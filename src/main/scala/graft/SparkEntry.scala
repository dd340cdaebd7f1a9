package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ice.MetadataTables
import graft.ice.expr.{Expr => E}
import graft.ice.types.{Literal, TimestampT}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * Query names map to SURVEY §2 operator rows (s*=scans/sources,
  * p*=projections, f*=filters, q*=relational breadth, t*=transforms/time
  * travel, m*=metadata tables, d*=dedup, e*=embeddings, x*=text analysis,
  * mm*=multimodal, ev*=events). Table-layer queries run over
  * Iceberg-planned scans (Tables.scan) so the metadata/manifest/pruning
  * stack is exercised end-to-end; the DuckDB oracle runs equivalent SQL
  * on the raw parquet. Double aggregates are rounded in BOTH engines to
  * absorb summation-order differences. */
object SparkEntry {

  /** Flagship: catalog -> table -> filtered+projected Iceberg scan
    * (the reference's demo path, demo_example.cc:41-78). */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    Tables.ice(spark, sfDir, "lineitem")
      .newScan()
      .filter(E.gtEq("l_shipdate", Literal.string("2000-01-01")))
      .select("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate")
      .toDF(spark)
  }

  /** Snapshot-keyed sidecar coordinates for a documents-corpus artifact:
    * the key carries the table uuid + current snapshot id (so any commit
    * to the table invalidates every artifact derived from it) and the
    * path lives under the warehouse beside the tables it derives from.
    * Shared by the artifact's producer AND consumers — d7/d8/d11 all
    * name "d7_pairs", d12/d13 name "d12_spans" — which is what turns
    * per-query recomputation into one computation per snapshot. */
  /** Scan-split count of the events fixture — the input-volume signal
    * the stateful streaming queries size their state-store partition
    * count from (StreamOps.withInputSizedShuffle). Listing-only: no job
    * runs. */
  private def eventsInputParts(s: SparkSession, dir: String,
      batchSchema: org.apache.spark.sql.types.StructType): Int =
    s.read.schema(batchSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .rdd.getNumPartitions

  private def docsSidecar(s: SparkSession, dir: String,
      artifact: String): (Option[String], Option[String]) = {
    val t = Tables.ice(s, dir, "documents")
    val snap = t.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
    (Some(s"${t.metadata.tableUuid}:$snap"),
      Some(s"${Tables.warehouseDir(dir)}/_sidecars/$artifact"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------- §2.1 scans / sources / sinks ----------

    "s6_scan_filter_project" -> ((s, dir) =>
      Tables.ice(s, dir, "lineitem").newScan()
        .filter(E.gtEq("l_shipdate", Literal.string("2000-06-01")))
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
        .toDF(s)),

    // S9/S11: avro sink + source round trip (Avro core; no spark-avro in
    // env). writeDir is the distributed sink: executors write their own
    // files, nothing routes through the driver.
    "s9_avro_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("avro_rt").toString
      val df = Tables.scan(s, dir, "nation")
      graft.ice.manifest.AvroData.writeDir(df, out)
      graft.ice.manifest.AvroData.readDir(s, out, df.schema)
    }),

    // S16: format registry end-to-end — a table whose data files are
    // AVRO (written by the registry's avro writer, registered via
    // addFiles(format=AVRO), scanned through per-format dispatch)
    "s16_avro_scan" -> ((s, dir) =>
      Fixtures.avroAdded(s, dir).newScan().toDF(s)),

    // S16 write side: the ENGINE writes avro data files because the
    // table says write.format.default=avro; scans dispatch by format
    "s16_avro_write" -> ((s, dir) =>
      Fixtures.avroWritten(s, dir).newScan().toDF(s)),

    // S16 third format: ORC registered via addFiles / engine-written
    "s17_orc_scan" -> ((s, dir) =>
      Fixtures.orcAdded(s, dir).newScan().toDF(s)),
    "s17_orc_write" -> ((s, dir) =>
      Fixtures.orcWritten(s, dir).newScan().toDF(s)),

    // S10: parquet sink + read back
    "s10_parquet_sink" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("pq_sink").toString
      Tables.scan(s, dir, "region").write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }),

    // ---------- §2.2 projections ----------

    "p1_projection" -> ((s, dir) =>
      Tables.ice(s, dir, "customer").newScan()
        .select("c_custkey", "c_name", "c_acctbal").toDF(s)),

    // P3: schema evolution — rename + promote, read old files by field id
    "p3_schema_evolution" -> ((s, dir) => {
      val t = Fixtures.evolution(s, dir)
      t.newScan().select("nation_name", "n_nationkey").toDF(s)
    }),

    // P7: v3 default values — initial-default injected by the scan for
    // pre-evolution files, write-default materialized for post-evolution
    // appends that omit the column
    "p7_default_values" -> ((s, dir) => {
      val t = Fixtures.defaults(s, dir)
      t.newScan().select("s_suppkey", "s_name", "s_tier", "s_score", "s_flag").toDF(s)
    }),

    // ---------- §2.3 filters ----------

    "f2_filter_in" -> ((s, dir) =>
      Tables.ice(s, dir, "lineitem").newScan()
        .filter(E.in("l_returnflag", Seq(Literal.string("A"), Literal.string("N"))))
        .filter(E.gt("l_discount", Literal.double(0.05)))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_discount")
        .toDF(s)),

    "f4_filter_null_bounds" -> ((s, dir) =>
      Tables.ice(s, dir, "customer").newScan()
        .filter(E.notNull("c_acctbal"))
        .filter(E.lt("c_acctbal", Literal.double(0.0)))
        .select("c_custkey", "c_acctbal").toDF(s)),

    "f1_filter_startswith" -> ((s, dir) =>
      Tables.ice(s, dir, "part").newScan()
        .filter(E.startsWith("p_name", "red"))
        .select("p_partkey", "p_name", "p_brand").toDF(s)),

    // ---------- §2.4 relational breadth over Iceberg scans ----------

    "q1_agg" -> ((s, dir) =>
      Tables.scan(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))),

    "q_join_broadcast" -> ((s, dir) => {
      val o = Tables.scan(s, dir, "orders")
      val c = Tables.scan(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
    }),

    "q_join_shuffle" -> ((s, dir) => {
      val l = Tables.scan(s, dir, "lineitem")
      val o = Tables.scan(s, dir, "orders")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
    }),

    // runtime dim-driven file pruning (DPP at the Iceberg-file level):
    // the urgent orders' keys become an IN/range filter on the lineitem
    // scan BEFORE planning, so manifests/files prune through the bounds
    // evaluators; the join then proves no rows were lost. The file-skip
    // property itself is pinned in PruningPropertySpec.
    "q_dpp_filejoin" -> ((s, dir) => {
      val dim = Tables.scan(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val fact = Tables.ice(s, dir, "lineitem").newScan()
        .pruneByJoinKeys(dim, "l_orderkey").toDF(s)
      fact.join(broadcast(dim), fact("l_orderkey") === dim("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
    }),

    "q3_join3_topk" -> ((s, dir) => {
      val c = Tables.scan(s, dir, "customer")
      val o = Tables.scan(s, dir, "orders")
      val l = Tables.scan(s, dir, "lineitem")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .filter(col("c_mktsegment") === "BUILDING")
        .groupBy("o_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.scan(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select("o_custkey", "o_orderkey", "rk")
    }),

    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.scan(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(sum("l_quantity").over(w), 2).as("running_qty"))
    }),

    "q_sort_topk" -> ((s, dir) =>
      Tables.scan(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(20)),

    "q_setop_except" -> ((s, dir) => {
      val c = Tables.scan(s, dir, "customer").select(col("c_custkey").as("k"))
      val o = Tables.scan(s, dir, "orders").select(col("o_custkey").as("k"))
      c.except(o)
    }),

    "q_setop_intersect_union" -> ((s, dir) => {
      val big = Tables.scan(s, dir, "orders")
        .filter(col("o_totalprice") > 100000.0).select(col("o_custkey").as("k"))
      val building = Tables.scan(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
      big.intersect(building).unionByName(
        building.except(big)).distinct()
    }),

    "q_cube" -> ((s, dir) =>
      Tables.scan(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))),

    // pivot: wide counts per status; coalesce because Spark pivots missing
    // combinations to null while FILTERed counts give 0
    "q_pivot" -> ((s, dir) =>
      Tables.scan(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))),

    // exact percentiles (Spark `percentile` = type-7 interpolation =
    // DuckDB quantile_cont). Exact percentile buffers each group's values
    // — correct here and oracle-matchable; at 100 TB swap for
    // approx_percentile (t-digest, bounded memory, same call shape).
    "q_percentile" -> ((s, dir) =>
      Tables.scan(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("price_p99"))),

    "q_semi_anti" -> ((s, dir) => {
      val c = Tables.scan(s, dir, "customer")
      val o = Tables.scan(s, dir, "orders")
      val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("with_orders"))
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("without_orders"))
      semi.unionByName(anti)
    }),

    // two distincts -> Catalyst's Expand plan: ONE scan, 2x rows in
    // flight, partial aggregation before the shuffle. At 100 TB the
    // exact form stays viable (shuffle bytes bound by distinct
    // cardinality, not row count); approx_count_distinct is the
    // cheaper drop-in when +-2% is acceptable.
    "q_distinct_agg" -> ((s, dir) =>
      Tables.scan(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_suppkey").as("n_supps"))),

    "q_rollup" -> ((s, dir) =>
      Tables.scan(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))),

    // true scalar subquery: the 1-row agg broadcast-cross-joins into the
    // filter, keeping the plan lazy and re-optimizable (no driver .head)
    "q_scalar_subquery" -> ((s, dir) => {
      val o = Tables.scan(s, dir, "orders")
      val avgPrice = o.agg(avg("o_totalprice").as("__avg"))
      o.crossJoin(broadcast(avgPrice))
        .filter(col("o_totalprice") > col("__avg"))
        .select("o_orderkey", "o_totalprice")
    }),

    // 5-way join through the star schema
    "q5_join5" -> ((s, dir) => {
      val r = Tables.scan(s, dir, "region")
      val n = Tables.scan(s, dir, "nation")
      val c = Tables.scan(s, dir, "customer")
      val o = Tables.scan(s, dir, "orders")
      val l = Tables.scan(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ---------- §2.5 transforms ----------

    "t_transform_day" -> ((s, dir) =>
      Tables.scan(s, dir, "orders")
        .select(graft.ice.transform.DayTransform
          .toColumn(col("o_orderdate"), TimestampT).as("order_day"),
          col("o_orderkey"))),

    "t_transform_month_year" -> ((s, dir) =>
      Tables.scan(s, dir, "lineitem")
        .groupBy(
          graft.ice.transform.YearTransform
            .toColumn(col("l_shipdate"), TimestampT).as("ship_year"),
          graft.ice.transform.MonthTransform
            .toColumn(col("l_shipdate"), TimestampT).as("ship_month"))
        .agg(count(lit(1)).as("n"))),

    "t_transform_truncate" -> ((s, dir) =>
      Tables.scan(s, dir, "part")
        .select(col("p_partkey"),
          graft.ice.transform.TruncateTransform(3)
            .toColumn(col("p_name"), graft.ice.types.StringT).as("name_trunc3"),
          graft.ice.transform.TruncateTransform(100)
            .toColumn(col("p_size"), graft.ice.types.IntT).as("size_trunc100"))),

    // bucket uses spec murmur3 seed 0 — not expressible in DuckDB; the
    // spec vectors in TransformSpec are its correctness oracle.
    "t_transform_bucket" -> ((s, dir) =>
      Tables.scan(s, dir, "orders")
        .groupBy(graft.ice.transform.BucketTransform(16)
          .toColumn(col("o_orderkey"), graft.ice.types.LongT).as("bucket"))
        .agg(count(lit(1)).as("n"))),

    "t_transform_hour" -> ((s, dir) =>
      Events.load(s, dir)
        .groupBy(graft.ice.transform.HourTransform
          .toColumn(col("ts"), TimestampT).as("event_hour"))
        .agg(count(lit(1)).as("n"))),

    // ---------- §2.6 snapshots / time travel ----------

    "t3_time_travel" -> ((s, dir) => {
      val t = Fixtures.timeTravel(s, dir)
      val firstSnap = t.history.head.snapshotId
      t.newScan().useSnapshot(firstSnap).toDF(s)
    }),

    // write.metadata.compression-codec=gzip end-to-end: every metadata
    // JSON of this fixture is gzip on disk (sniffed on read); the scan
    // result must be byte-identical to the plain-metadata equivalent
    "t_gzip_metadata" -> ((s, dir) =>
      Fixtures.gzipMetadata(s, dir).newScan().toDF(s)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")),

    // write.parquet.* tuning end-to-end: gzip codec + 64 KiB row groups
    // reach the data files (footer-asserted in WritePropsSpec); the scan
    // must stay value-identical to the source
    "t_parquet_tuning" -> ((s, dir) =>
      Fixtures.tuned(s, dir).newScan().toDF(s)
        .select("p_partkey", "p_name", "p_retailprice")),

    // read.split.target-size over an IMPORTED whole-file table: the raw
    // lineitem parquet registered as ONE data file, then scanned through
    // the V2 connector with a 256 KiB split target — the scan cuts the
    // file into row-group-aligned ranged sub-splits (one straggler task
    // becomes many right-sized ones) and the grouped sums prove a ranged
    // cover reads every row exactly once
    "t_split_read" -> ((s, dir) => {
      Fixtures.splitRead(s, dir)
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      s.table("ice.tpch.lineitem_bigfile")
        .filter(col("l_quantity") > 0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
    }),

    // read.parquet.vectorization.*: a non-default 1111-row reader batch
    // (threading pinned in PropertyTailSpec) — values must be identical
    "t_read_vectorization" -> ((s, dir) =>
      Fixtures.vectorized(s, dir).newScan().toDF(s)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))),

    // write.upsert.enabled: plain appends route through keyed MoR upsert
    // — every 10th order superseded with tripled totalprice, no dupes
    "t_upsert_default" -> ((s, dir) =>
      Fixtures.upsertDefault(s, dir).newScan().toDF(s)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")),

    // metrics modes: counts-default withholds bounds, truncate(4) is
    // below the exactness floor, full keeps exact bounds — MIN/MAX/COUNT
    // over these columns exercises the refusal matrix and must still
    // match the oracle through the scan fallback
    "t_metrics_modes" -> ((s, dir) =>
      Fixtures.metricsModes(s, dir).newScan().toDF(s)
        .agg(count(col("c_name")).as("n_name"),
          min(col("c_name")).as("min_name"),
          max(col("c_name")).as("max_name"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"))),

    // object-store layout: hash-prefixed data paths, partition tuples
    // from manifests (not paths) — scan + partition pruning must be
    // layout-blind
    "t_object_store" -> ((s, dir) =>
      Fixtures.objectStore(s, dir).newScan().toDF(s)
        .filter(col("o_orderdate") >= "1997-01-01")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))),

    // write.data.path mid-life move: half the files under the default
    // root, half under the external root, one scan over both
    "t_data_path_move" -> ((s, dir) =>
      Fixtures.dataPathMove(s, dir).newScan().toDF(s)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")),

    // write.summary.partition-limit: per-partition churn entries in the
    // snapshot summary, parsed back out and matched against the data
    "t_partition_summary" -> ((s, dir) => {
      import s.implicits._
      val t = Fixtures.partitionSummary(s, dir)
      val snap = t.currentSnapshot.get
      snap.summary.toSeq
        .filter(_._1.startsWith("partitions."))
        .map { case (k, v) =>
          val pri = k.stripPrefix("partitions.pri=")
          val rec = v.split(",").collectFirst {
            case e if e.startsWith("added-records=") =>
              e.stripPrefix("added-records=").toLong
          }.getOrElse(-1L)
          (pri, rec)
        }
        .toDF("pri", "added_records").orderBy("pri")
    }),

    // rollback: main moves BACK to the first snapshot; a plain scan (no
    // time-travel clause) then sees only the first append
    "t_rollback" -> ((s, dir) => {
      val t = Fixtures.rollback(s, dir)
      t.newScan().toDF(s)
    }),

    "t2_branch_scan" -> ((s, dir) => {
      val t = Fixtures.timeTravel(s, dir)
      t.newScan().useRef("v1").toDF(s)
    }),

    // ---------- §2.7 catalog / metadata tables ----------

    "m_snapshots_table" -> ((s, dir) => {
      val t = Fixtures.timeTravel(s, dir)
      MetadataTables.snapshots(s, t)
        .select("operation", "added_records").orderBy("added_records")
    }),

    "m_files_rowcount" -> ((s, dir) => {
      val t = Tables.ice(s, dir, "orders")
      MetadataTables.files(s, t).agg(sum("record_count").as("total_records"))
    }),

    // one manifest per fast-append; files = one per month partition
    // (writes cluster by partition tuple, one task per month)
    "m_manifests" -> ((s, dir) =>
      MetadataTables.manifests(s, Tables.ice(s, dir, "orders"))
        .agg(count(lit(1)).as("n_manifests"),
          sum("added_files_count").as("n_files"))),

    "m_partitions" -> ((s, dir) =>
      MetadataTables.partitions(s, Tables.ice(s, dir, "orders"))
        .select(col("partition"), col("record_count"))),

    "m_refs" -> ((s, dir) => {
      val t = Fixtures.timeTravel(s, dir)
      MetadataTables.refs(s, t).select("name", "type")
    }),

    // snapshot expiry: 3 appends -> expire -> exactly 1 snapshot remains,
    // all rows still visible
    "m_expire" -> ((s, dir) => {
      val t = Fixtures.expire(s, dir)
      val snaps = t.snapshots.size
      t.newScan().toDF(s).agg(count(lit(1)).as("n_rows"))
        .withColumn("n_snapshots", lit(snaps.toLong))
    }),

    // per-column NDV sketches as real puffin blobs: KMV is exact below k,
    // so every oracled column matches count(DISTINCT ...) exactly
    "m_statistics" -> ((s, dir) => {
      val t = Tables.ice(s, dir, "orders")
      t.maintenance().computeStatistics(s,
        Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate"))
      MetadataTables.statistics(s, t).select("column_name", "ndv")
    }),

    // partition statistics FILE (metadata-only in the reference):
    // manifest-aggregated per-partition counts written as a registered
    // parquet file, read back through the metadata table — the oracle
    // recomputes the same counts from the raw data
    "m_partition_stats" -> ((s, dir) => {
      import graft.ice.write.Statistics
      val t = Tables.ice(s, dir, "orders")
      Statistics.computePartitionStats(t, s)
      MetadataTables.partitionStatistics(s, t)
        .select("partition", "data_record_count", "total_record_count")
    }),

    // RAW manifest entries (every status, data AND delete manifests):
    // summed record counts per manifest class — data entries carry the
    // full table, the delete manifest carries the pos-delete tuples
    "m_entries" -> ((s, dir) => {
      val t = Fixtures.delMorPos(s, dir)
      MetadataTables.entries(s, t)
        .groupBy(col("manifest_content"))
        .agg(sum("record_count").as("n_rows"))
    }),

    // all_files spans snapshots the CURRENT state cannot see: append,
    // append more, roll back — the rolled-back snapshot's files remain
    // reachable metadata (until expiry) and only all_files shows them
    "m_all_files" -> ((s, dir) => {
      import graft.ice._, graft.ice.catalog._
      import graft.ice.types.SparkConv
      val cat = Tables.catalog(dir)
      val ident = TableIdentifier(Seq("tpch"), "nation_allfiles")
      val t = Tables.fixture(cat, ident) {
        val raw = Tables.raw(s, dir, "nation")
        val created = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
        created.append(s).appendDataFrame(raw)
        val s1 = created.currentSnapshot.get.snapshotId
        created.append(s).appendDataFrame(
          raw.withColumn("n_nationkey", col("n_nationkey") + lit(1000L)))
        created.manageSnapshots().rollbackTo(s1)
        created
      }
      val live = MetadataTables.files(s, t)
        .agg(sum("record_count")).head.getLong(0)
      MetadataTables.allFiles(s, t)
        .agg(sum("record_count").as("all_rows"))
        .withColumn("live_rows", lit(live))
    }),

    // position_deletes: the live (file, pos) tuple set as a queryable
    // table — count matches the fixture's delete predicate exactly
    "m_position_deletes" -> ((s, dir) => {
      val t = Fixtures.delMorPos(s, dir)
      MetadataTables.positionDeletes(s, t)
        .agg(count(lit(1)).cast("long").as("n_pos_deletes"))
    }),

    // metadata-only onboarding (Iceberg's snapshot procedure): existing
    // parquet becomes an Iceberg table with footer-sourced metrics, no
    // data rewrite — then reads like any other table
    "proc_snapshot_table" -> ((s, dir) => {
      import graft.ice.catalog._
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      Tables.ensure(Tables.catalog(dir), TableIdentifier(Seq("catq"), "region_snap")) {
        s.sql(s"""CALL ice.system.snapshot_table(
                 |  source_dir => '$dir/region.parquet',
                 |  table => 'catq.region_snap')""".stripMargin)
      }
      s.table("ice.catq.region_snap")
    }),

    // WAP publish via cherry-pick: odd rows staged on an audit branch,
    // then cherrypick_snapshot replays the staged append onto main as a
    // NEW snapshot — the procedure flavor of write-audit-publish (the
    // branch flavor is t2_wap's fast_forward). Oracle = the whole table.
    "proc_cherrypick" -> ((s, dir) => {
      import graft.ice.catalog._
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      val cat = Tables.catalog(dir)
      val ident = TableIdentifier(Seq("catq"), "orders_cherry")
      Tables.ensure(cat, ident) {
        import graft.ice._
        import graft.ice.types.SparkConv
        val raw = Tables.raw(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
        val s1 = t.append(s).appendDataFrame(raw.filter(col("o_orderkey") % 2 === 0))
        t.manageSnapshots().createBranch("audit", s1.snapshotId)
        t.append(s).toBranch("audit")
          .appendDataFrame(raw.filter(col("o_orderkey") % 2 === 1))
        val staged = IceTable.load(cat, ident).refs("audit").snapshotId
        s.sql(s"CALL ice.system.cherrypick_snapshot('catq.orders_cherry', $staged)")
      }
      s.table("ice.catq.orders_cherry")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"))
    }),

    // Hive key=value import (snapshot_table + add_files): the partition
    // column exists ONLY in directory names; the Iceberg table is
    // identity-partitioned and scans serve the column from manifest
    // tuples (constants-map injection). The oracle recomputes from the
    // original rows — a wrong/null injected value hash-mismatches.
    "proc_add_files_hive" -> ((s, dir) => {
      import graft.ice.catalog._
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      val cat = Tables.catalog(dir)
      Tables.ensure(cat, TableIdentifier(Seq("catq"), "orders_hive")) {
        val orders = Tables.raw(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val src1 = s"${Tables.warehouseDir(dir)}/hive_src_even"
        val src2 = s"${Tables.warehouseDir(dir)}/hive_src_odd"
        orders.filter(col("o_orderkey") % 2 === 0)
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(src1)
        orders.filter(col("o_orderkey") % 2 === 1)
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(src2)
        s.sql(s"""CALL ice.system.snapshot_table(
                 |  source_dir => '$src1', table => 'catq.orders_hive')""".stripMargin)
        s.sql(s"""CALL ice.system.add_files(
                 |  table => 'catq.orders_hive', source_dir => '$src2')""".stripMargin)
      }
      s.table("ice.catq.orders_hive")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"))
    }),

    // register raw (id-less) parquet as table data without rewrite; the
    // scan falls back to name-based column resolution
    "c_addfiles" -> ((s, dir) =>
      Fixtures.addFiles(s, dir).newScan().toDF(s)),

    // staged CREATE TABLE AS SELECT: table + data become visible in ONE
    // v1 commit (catalog.h StageCreateTable + TableBuilder)
    "c_stage_create" -> ((s, dir) => {
      import graft.ice._, graft.ice.catalog._
      import graft.ice.types.SparkConv
      val cat = Tables.catalog(dir)
      val ident = TableIdentifier(Seq("tpch"), "region_ctas")
      val t = Tables.fixture(cat, ident) {
        val raw = Tables.raw(s, dir, "region")
        val ref = cat.buildTable(ident, SparkConv.fromSpark(raw.schema))
          .withProperty("graft.ctas", "true")
          .stageCreate()
        val (staged, tx) = IceTable.stageCreate(ref, s)
        tx.append(raw)
        tx.commitTransaction()
        staged
      }
      t.newScan().toDF(s)
    }),

    // register an existing metadata JSON under a new identity
    "c_register" -> ((s, dir) => {
      import graft.ice._, graft.ice.catalog._
      val cat = Tables.catalog(dir)
      Tables.ice(s, dir, "region") // ensure source table exists
      val src = TableIdentifier(Seq("tpch"), "region")
      val ident = TableIdentifier(Seq("tpch"), "region_registered")
      val t = Tables.fixture(cat, ident)(IceTable.from(cat.registerTable(ident,
        s"${Tables.warehouseDir(dir)}/tpch/region/metadata/v${cat.currentVersion(src)}.metadata.json")))
      t.newScan().toDF(s)
    }),

    // C3: the same create→append→scan path, but EVERY catalog operation
    // travels over the Iceberg REST protocol to an in-process localhost
    // server fronting the warehouse (the reference's REST catalog is a
    // 2-endpoint stub, rest_catalog.h:28-39; here the full Catalog trait
    // is wire-real). Data-plane reads never touch the catalog, so the
    // server can stop once planning is done — catalog traffic is
    // metadata-sized by construction.
    "c_rest" -> ((s, dir) => {
      import graft.ice._, graft.ice.catalog._
      import graft.ice.types.SparkConv
      val server = new RestCatalogServer(Tables.catalog(dir))
      try {
        val cat = new RestCatalog(server.baseUrl)
        val ident = TableIdentifier(Seq("tpch"), "region_rest")
        val t = Tables.fixture(cat, ident) {
          val raw = Tables.raw(s, dir, "region")
          val created = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
          created.append(s).appendDataFrame(raw)
          created
        }
        t.newScan().toDF(s)
      } finally server.stop()
    }),

    // C3+: SERVER-SIDE scan planning (the public REST spec's
    // PlanTableScan) — the server runs manifest pruning and returns the
    // file list; this thin client reads ONLY the planned parquet files
    // and applies the residual filter, never opening table metadata.
    // The plan travels PAGED (page-size 2 forces >= 2 pages here): the
    // server parks the plan under a plan-id and the client walks the
    // pages, so a million-file plan is never one JSON body. Identity-
    // partition pruning through the wire and page-vs-local task equality
    // are pinned in RestCatalogSpec. The server is FORCED ASYNC
    // (threshold 1 file): the POST answers "submitted" + plan-id without
    // holding an HTTP thread, the client polls to completion, then walks
    // pages — the long-plan handshake exercised end-to-end on every run.
    "c_rest_plan" -> ((s, dir) => {
      import graft.ice._, graft.ice.catalog._
      import graft.ice.meta.{PartitionField, PartitionSpec}
      import graft.ice.transform.IdentityTransform
      import graft.ice.types.SparkConv
      val server = new RestCatalogServer(Tables.catalog(dir),
        asyncPlanThresholdFiles = 1)
      try {
        val cat = new RestCatalog(server.baseUrl)
        val ident = TableIdentifier(Seq("tpch"), "orders_restplan")
        Tables.ensure(cat, ident) {
          // three appends of disjoint slices: >= 3 files per partition
          // dir, so the pruned plan spans multiple wire pages at
          // page-size 2 regardless of the writer's clustering
          val raw = Tables.raw(s, dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
          val schema = SparkConv.fromSpark(raw.schema)
          val statusId = schema.findFieldByName("o_orderstatus").get.id
          val spec = PartitionSpec(0, IndexedSeq(
            PartitionField(statusId, 1000, "o_orderstatus", IdentityTransform)))
          val t = IceTable.create(cat, ident, schema, spec)
          (0 until 3).foreach(i =>
            t.append(s).appendDataFrame(raw.filter(col("o_orderkey") % 3 === i)))
        }
        val plan = cat.planScan(ident,
          Some(graft.ice.expr.Expr.equal("o_orderstatus",
            graft.ice.types.Literal.string("F"))),
          pageSize = Some(2))
        // tasks carry no delete linkage: reading them raw with MoR
        // deletes present would resurrect deleted rows — refuse
        require(plan.deleteFiles.isEmpty,
          s"table has ${plan.deleteFiles.size} delete file(s); a thin " +
            "client reading tasks raw must apply them or refuse")
        val paths = plan.tasks.map(task =>
          graft.ice.manifest.ManifestAvro.stripFileScheme(task.path))
        s.read.parquet(paths: _*)
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice"), 2).as("price"))
      } finally server.stop()
    }),

    // C3++: thin-client MERGE-ON-READ through the plan wire — the server
    // resolves data-file<->delete-file linkage per task (sequence rules
    // applied server-side, delete-file-references indices), and the thin
    // client reads planned files MINUS the referenced position deletes
    // via one (file,pos) anti-join; still no table metadata client-side
    "c_rest_plan_mor" -> ((s, dir) => {
      import graft.ice._, graft.ice.catalog._
      import graft.ice.types.SparkConv
      val server = new RestCatalogServer(Tables.catalog(dir))
      try {
        val cat = new RestCatalog(server.baseUrl)
        val ident = TableIdentifier(Seq("tpch"), "orders_restmor")
        Tables.ensure(cat, ident) {
          val raw = Tables.raw(s, dir, "orders")
            .select("o_orderkey", "o_totalprice")
          val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
          t.append(s).appendDataFrame(raw.repartition(3))
          t.delete(s).deleteWherePositional(
            graft.ice.expr.Expr.lt("o_orderkey", graft.ice.types.Literal.long(100)))
        }
        val plan = cat.planScan(ident, pageSize = Some(2))
        // only delete files some task actually references (the linkage)
        val refd = plan.tasks.flatMap(_.deleteRefs).distinct.map(plan.deleteFiles)
        require(refd.forall(d => d.content == "position-deletes" &&
          d.contentOffset.isEmpty),
          "this thin client applies parquet position deletes only")
        val strip = (p: String) => graft.ice.manifest.ManifestAvro.stripFileScheme(p)
        val data = s.read.parquet(plan.tasks.map(t => strip(t.path)): _*)
          .withColumn("__f", graft.ice.FilePaths.column(col("_metadata.file_path")))
          .withColumn("__p", col("_metadata.row_index"))
        val out =
          if (refd.isEmpty) data
          else {
            val dels = s.read.parquet(refd.map(d => strip(d.path)): _*)
              .select(graft.ice.FilePaths.storedColumn(col("file_path")).as("__df"),
                col("pos").as("__dp"))
            data.join(dels,
              data("__f") === dels("__df") && data("__p") === dels("__dp"),
              "left_anti")
          }
        out.select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      } finally server.stop()
    }),

    // MERGE INTO (upsert, CoW): update every 10th order's totalprice and
    // insert shifted copies of every 100th-key-ending-in-7 order, in ONE
    // atomic overwrite snapshot; only files containing a matched key are
    // rewritten. The reference models no row-level op at all.
    "mrg_upsert" -> ((s, dir) => {
      import graft.ice._, graft.ice.catalog._
      import graft.ice.types.SparkConv
      val cat = Tables.catalog(dir)
      val ident = TableIdentifier(Seq("tpch"), "orders_merge")
      val t = Tables.fixture(cat, ident) {
        val raw = Tables.raw(s, dir, "orders")
        val created = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
        created.append(s).appendDataFrame(raw)
        val src = raw.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
          .unionByName(raw.filter(col("o_orderkey") % 100 === 7)
            .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)))
        created.merge(s, src, Seq("o_orderkey"))
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .commit()
        created
      }
      t.newScan().toDF(s)
    }),

    // write-audit-publish: data lands on an "audit" branch (invisible to
    // main readers), a validation gate checks it, then main FAST-FORWARDS
    // to the audited head — publish is a metadata-only pointer move, no
    // data rewrite at any scale
    "t2_wap" -> ((s, dir) => {
      import graft.ice._, graft.ice.catalog._
      import graft.ice.types.SparkConv
      val cat = Tables.catalog(dir)
      val ident = TableIdentifier(Seq("tpch"), "supplier_wap")
      val t = Tables.fixture(cat, ident) {
        val raw = Tables.raw(s, dir, "supplier")
        val created = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
        val s0 = created.append(s).appendDataFrame(raw.filter(col("s_suppkey") % 2 === 0))
        created.manageSnapshots().createBranch("audit", s0.snapshotId)
        created.append(s).toBranch("audit")
          .appendDataFrame(raw.filter(col("s_suppkey") % 2 =!= 0))
        // audit gate: the staged branch must hold the complete table
        require(created.newScan().useRef("audit").toDF(s).count() == raw.count(),
          "audit validation failed; NOT publishing")
        created.manageSnapshots().fastForward("main", "audit")
        created
      }
      t.newScan().toDF(s)
    }),

    // partition-spec evolution: half the rows under a year spec, half
    // under its month successor; one scan reads and prunes across both
    "t_spec_evolution" -> ((s, dir) =>
      Fixtures.specEvolution(s, dir).newScan().toDF(s)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")),

    // incremental append scan: only rows added AFTER the first snapshot
    "t_incremental_scan" -> ((s, dir) => {
      val t = Fixtures.timeTravel(s, dir)
      val snaps = t.snapshots.sortBy(_.sequenceNumber)
      t.newScan().appendsBetween(snaps.head.snapshotId, snaps.last.snapshotId)
        .toDF(s)
    }),

    // scan as-of timestamp resolves through the snapshot log
    "t_as_of_timestamp" -> ((s, dir) => {
      val t = Fixtures.timeTravel(s, dir)
      val firstCommitMs = t.history.head.timestampMs
      t.newScan().asOfTimestamp(firstCommitMs).toDF(s)
    }),

    // P6 metadata columns over addFiles data: _file is the registered
    // parquet itself, _pos the row index within it,
    // _last_updated_sequence_number the registering commit's (= 1, the
    // fixture's single addFiles commit)
    "p6_metadata_cols" -> ((s, dir) =>
      Fixtures.addFiles(s, dir).newScan()
        .withMetadataColumns("_file", "_pos", "_last_updated_sequence_number")
        .toDF(s)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("_file")).as("n_files"),
          min("_pos").as("p0"), max("_pos").as("p1"),
          min("_last_updated_sequence_number").as("seq_lo"),
          max("_last_updated_sequence_number").as("seq_hi"))),

    // ---------- §2.8 overwrite ----------

    "ov_dynamic" -> ((s, dir) =>
      Fixtures.dynamicOverwrite(s, dir).newScan().toDF(s)
        .select(col("o_orderkey"), col("o_totalprice"))),

    "ov_replace_all" -> ((s, dir) =>
      Fixtures.replaced(s, dir).newScan().toDF(s)
        .select(col("o_orderkey"), col("o_orderstatus"))),

    // ---------- §2.8 row-level deletes ----------

    "del_cow" -> ((s, dir) => Fixtures.delCow(s, dir).newScan().toDF(s)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")),

    "del_mor_position" -> ((s, dir) => Fixtures.delMorPos(s, dir).newScan().toDF(s)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")),

    "del_mor_equality" -> ((s, dir) => Fixtures.delMorEq(s, dir).newScan().toDF(s)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")),

    // v3 deletion vectors (puffin roaring bitmaps) applied on scan
    "del_dv" -> ((s, dir) => Fixtures.delMorDV(s, dir).newScan().toDF(s)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")),

    // write.delete.format.default=avro: position + equality delete files
    // are avro containers (format-dispatched writes AND reads)
    "del_mor_avro" -> ((s, dir) => Fixtures.delMorAvro(s, dir).newScan().toDF(s)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")),

    // write.update.mode=merge-on-read: SQL UPDATE supersedes matching
    // rows via position deletes + re-append — no data file rewritten
    // (gated in the fixture); the scan merges deletes + updated rows
    "sql_update_mor" -> ((s, dir) => Fixtures.updateMor(s, dir)
      .newScan().toDF(s)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")),

    // partition-aligned CoW delete: whole files drop via strict metrics
    // proof, no data file read or written (gated in the fixture) — at
    // 100 TB "drop a day / drop a tenant" is a metadata-only commit
    "del_metadata_only" -> ((s, dir) => Fixtures.delMetadataOnly(s, dir)
      .newScan().toDF(s)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")),

    // compaction preserves content (north-star maintenance op)
    "maint_compaction" -> ((s, dir) => Fixtures.compaction(s, dir).newScan().toDF(s)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")),

    // pure-SQL surface: the analyzer rule resolves graft.<ns>.<table>
    // identifiers to full metadata-planned scans (GraftTableResolution);
    // time-travel SQL forms are pinned in GraftSqlSpec
    "sql_catalog" -> ((s, dir) => {
      Tables.ice(s, dir, "nation"); Tables.ice(s, dir, "region")
      s.conf.set("spark.graft.warehouse", Tables.warehouseDir(dir))
      s.sql(
        """SELECT r.r_name, count(*) AS n_nations
          |FROM graft.tpch.nation n
          |JOIN graft.tpch.region r ON n.n_regionkey = r.r_regionkey
          |GROUP BY r.r_name""".stripMargin)
    }),

    // ---------- SQL DML surface, driver-oracled ----------
    // (the GraftSqlSpec pins these forms unit-level; these three close the
    // loop against DuckDB: DELETE+UPDATE state, MERGE final state, and
    // VERSION AS OF reads through pure SQL)

    "sql_delete_update" -> ((s, dir) => {
      Fixtures.sqlDml(s, dir)
      s.sql("""SELECT o_orderpriority, count(*) AS n_orders,
              |  round(sum(o_totalprice), 2) AS revenue
              |FROM graft.sqlq.orders_dml
              |GROUP BY o_orderpriority""".stripMargin)
    }),

    "sql_merge" -> ((s, dir) => {
      Fixtures.sqlDml(s, dir)
      s.sql("""SELECT o_orderstatus, count(*) AS n_rows,
              |  round(sum(o_totalprice), 2) AS total
              |FROM graft.sqlq.merge_t
              |GROUP BY o_orderstatus""".stripMargin)
    }),

    "sql_timetravel" -> ((s, dir) => {
      Fixtures.sqlDml(s, dir)
      s.sql(s"""SELECT n_nationkey, n_name FROM graft.sqlq.tt
               |VERSION AS OF ${Fixtures.sqlTtFirstSnapshot(dir)}""".stripMargin)
    }),

    // ref lifecycle + declared write order through PURE SQL (the
    // parser-extension DDL family): CREATE BRANCH pins the pre-append
    // state, WRITE ORDERED BY makes the second append range-clustered
    // and sort-stamped; the branch read must see exactly the first
    // append while main carries both.
    "sql_branch_ddl" -> ((s, dir) => {
      import graft.ice._, graft.ice.catalog._
      import graft.ice.types.SparkConv
      s.conf.set("spark.graft.warehouse", Tables.warehouseDir(dir))
      val cat = Tables.catalog(dir)
      val ident = TableIdentifier(Seq("sqlq"), "supp_refddl")
      Tables.ensure(cat, ident) {
        val raw = Tables.raw(s, dir, "supplier")
        val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
        t.append(s).appendDataFrame(raw)
        s.sql("ALTER TABLE graft.sqlq.supp_refddl CREATE BRANCH frozen")
        s.sql("ALTER TABLE graft.sqlq.supp_refddl WRITE ORDERED BY s_suppkey")
        val shifted = raw.withColumn("s_suppkey", col("s_suppkey") + lit(1000000L))
        IceTable.load(cat, ident).append(s).appendDataFrame(shifted)
        val t2 = IceTable.load(cat, ident)
        val newOrder = t2.metadata.defaultSortOrderId
        require(newOrder > 0, "WRITE ORDERED BY must install a new order")
        require(t2.newScan().planFiles().exists(
          _.file.sortOrderId.contains(newOrder)),
          "the post-DDL append must stamp the new sort_order_id")
      }
      s.sql("""SELECT s_suppkey, s_name, s_nationkey
              |FROM graft.sqlq.supp_refddl VERSION AS OF 'frozen'""".stripMargin)
    }),

    // UPDATE / MERGE INTO over V2 CATALOG identifiers (ice.db.t): the
    // round-7 gap — DELETE worked through SupportsDelete but UPDATE and
    // MERGE failed on catalog names while working on graft.* ones. Both
    // now dispatch through the same row-level commands (CoW/MoR per
    // table properties); these close the loop against DuckDB.
    "sql_catalog_update" -> ((s, dir) => {
      Fixtures.catalogDml(s, dir)
      s.sql("""SELECT o_orderpriority, count(*) AS n_orders,
              |  round(sum(o_totalprice), 2) AS revenue
              |FROM ice.catq.orders_v2dml
              |GROUP BY o_orderpriority""".stripMargin)
    }),

    "sql_catalog_defaults" -> ((s, dir) => {
      Fixtures.catalogDml(s, dir)
      s.sql("""SELECT s_suppkey, s_name, tier
              |FROM ice.catq.supp_defaults""".stripMargin)
    }),

    "sql_catalog_merge" -> ((s, dir) => {
      Fixtures.catalogDml(s, dir)
      s.sql("""SELECT o_orderstatus, count(*) AS n_rows,
              |  round(sum(o_totalprice), 2) AS total
              |FROM ice.catq.merge_v2
              |GROUP BY o_orderstatus""".stripMargin)
    }),

    // z-order layout rewrite: a 2-D box predicate over the curve columns
    // reads the curve-tiled table; the oracle reads raw parquet. The
    // both-dimension file-pruning claim itself is pinned in ZOrderSpec.
    "maint_zorder" -> ((s, dir) => Fixtures.zorder(s, dir).newScan()
      .filter(E.lt("l_orderkey", Literal.long(1000L))
        .and(E.lt("l_partkey", Literal.long(500L))))
      .toDF(s).select("l_orderkey", "l_partkey", "l_quantity")),

    // CDC: the rows the MoR position-delete snapshot deleted
    "cdc_changes" -> ((s, dir) => {
      val t = Fixtures.delMorPos(s, dir)
      val snaps = t.snapshots.sortBy(_.sequenceNumber)
      t.planChanges(s, snaps.head.snapshotId, snaps.last.snapshotId)
        .select("o_orderkey", "o_orderstatus", "_change_type")
    }),

    // changelog with UPDATE pairing (Iceberg create_changelog_view
    // compute-updates): a MoR merge's eq-delete + re-insert of the same
    // identifier key in one commit becomes update_preimage /
    // update_postimage; pure inserts stay inserts. One shuffle keyed by
    // (identifier, commit) — row-scale cardinality.
    "cdc_updates" -> ((s, dir) => {
      import graft.ice._, graft.ice.catalog._
      import graft.ice.types.SparkConv
      val cat = Tables.catalog(dir)
      val ident = TableIdentifier(Seq("tpch"), "orders_cdcu")
      val t = Tables.fixture(cat, ident) {
        val raw = Tables.raw(s, dir, "orders")
        val created = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
        created.append(s).appendDataFrame(raw)
        val src = raw.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
          .unionByName(raw.filter(col("o_orderkey") % 100 === 7)
            .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)))
        created.merge(s, src, Seq("o_orderkey"))
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .withMergeOnRead()
          .commit()
        created
      }
      val snaps = t.snapshots.sortBy(_.sequenceNumber)
      t.planChangelog(s, snaps.head.snapshotId, snaps.last.snapshotId,
        Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"), col("_change_type"))
    }),

    // COPY-ON-WRITE changelog: a CoW MERGE removes the matched files and
    // adds rewritten ones. The diff reads the removed files at the parent
    // snapshot (MoR deletes applied), cancels carry-over rows rewritten
    // verbatim, and pairs the surviving delete+insert per key into
    // update pre/post images — same observable changelog as the MoR
    // merge, produced from file-level rewrite evidence.
    "cdc_cow_overwrite" -> ((s, dir) => {
      import graft.ice._, graft.ice.catalog._
      import graft.ice.types.SparkConv
      val cat = Tables.catalog(dir)
      val ident = TableIdentifier(Seq("tpch"), "orders_cowcdc")
      val t = Tables.fixture(cat, ident) {
        val raw = Tables.raw(s, dir, "orders")
        val created = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
        created.append(s).appendDataFrame(raw)
        val src = raw.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
          .unionByName(raw.filter(col("o_orderkey") % 100 === 7)
            .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)))
        created.merge(s, src, Seq("o_orderkey"))
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .commit() // no withMergeOnRead: copy-on-write rewrite
        created
      }
      val snaps = t.snapshots.sortBy(_.sequenceNumber)
      t.planChangelog(s, snaps.head.snapshotId, snaps.last.snapshotId,
        Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"), col("_change_type"))
    }),

    // _change_ordinal parity (Iceberg create_changelog_view): each
    // commit in the range carries its 0-based position, so multi-commit
    // histories order without joining back to the snapshot log. The
    // fixture's two CoW updates emit ordinals 0 and 1 with the pre/post
    // images of each commit.
    "cdc_ordinal" -> ((s, dir) => {
      val t = Fixtures.netCdc(s, dir)
      val snaps = t.snapshots.sortBy(_.sequenceNumber)
      t.planChanges(s, snaps.head.snapshotId, snaps.last.snapshotId)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"), col("_change_type"),
          col("_change_ordinal"))
    }),

    // Net-changes view (Iceberg create_changelog_view net_changes): two
    // successive CoW updates of the same rows collapse to one delete of
    // the initial image + one insert of the final image — intermediate
    // states vanish by multiset cancelation across the whole range.
    "cdc_net_changes" -> ((s, dir) => {
      val t = Fixtures.netCdc(s, dir)
      val snaps = t.snapshots.sortBy(_.sequenceNumber)
      t.planNetChanges(s, snaps.head.snapshotId, snaps.last.snapshotId)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"), col("_change_type"))
    }),

    // the same net-changes view through PURE SQL: Iceberg's
    // create_changelog_view procedure registers a temp view over the
    // CDC stream (whole history by default; net_changes collapses
    // intermediate images) — CALL + SELECT, no Scala API in sight
    "proc_changelog_view" -> ((s, dir) => {
      val t = Fixtures.netCdc(s, dir)
      val first = t.snapshots.sortBy(_.sequenceNumber).head.snapshotId
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      s.sql(s"""CALL ice.system.create_changelog_view(
              |  table => 'tpch.orders_netcdc',
              |  changelog_view => 'orders_netcdc_ncv',
              |  start_snapshot_id => $first,
              |  net_changes => true)""".stripMargin)
      s.table("orders_netcdc_ncv")
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"), col("_change_type"))
    }),

    // ---------- §2.11 dedup ----------

    "d1_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.scan(s, dir, "documents"), "text", "doc_id")
        .select("keep_id", "copies")),

    // survivors of exact dedup over a corpus with planted duplicates
    "d6_dedup_survivors" -> ((s, dir) => {
      val docs = Tables.scan(s, dir, "documents").select("doc_id", "text")
      val withDups = docs.unionByName(
        docs.filter("doc_id % 100 = 0")
          .withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.exactSurvivors(withDups, "text", "doc_id").select("doc_id")
    }),

    "d2_minhash_signatures" -> ((s, dir) =>
      Dedup.minhashSignatures(Tables.scan(s, dir, "documents"), "text", "doc_id", k = 16)
        .select(col("doc_id"), size(col("signature")).as("sig_len"),
          element_at(col("signature"), 1).as("h0"))),

    "d3_near_dup_pairs" -> ((s, dir) =>
      Dedup.nearDupPairs(Tables.scan(s, dir, "documents"), "text", "doc_id",
        threshold = 0.2, k = 16, bands = 8)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))),

    "d4_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables.scan(s, dir, "documents"), "text", "doc_id")),

    // exact word-trigram Jaccard pairs (>= 0.8) blocked by lang: the
    // fully-oracled baseline the LSH path (d3) approximates. Integer
    // counts only — no floats to drift between engines.
    "d7_jaccard_pairs" -> ((s, dir) => {
      val (key, path) = docsSidecar(s, dir, "d7_pairs")
      Dedup.jaccardExactPairs(Tables.scan(s, dir, "documents"),
        "text", "doc_id", "lang", cacheKey = key, persistPath = path)
    }),

    // near-dup pairs -> CLUSTERS + survivor choice: connected components
    // of the exact-jaccard graph via min-label propagation (rounds =
    // cluster diameter; each round one shuffle of the small edge list).
    // The decision a dedup pipeline actually executes.
    // consumes d7's snapshot-keyed pair sidecar: the pair graph is
    // computed once per documents snapshot, not once per query
    "d8_jaccard_clusters" -> ((s, dir) => {
      val (key, path) = docsSidecar(s, dir, "d7_pairs")
      Dedup.jaccardClusters(Tables.scan(s, dir, "documents"),
        "text", "doc_id", "lang", cacheKey = key, persistPath = path)
    }),

    // quality-aware survivor choice: within each near-dup cluster keep
    // the LONGEST document (ties by smallest id) — the canonical-copy
    // policy real pipelines run — via a per-cluster argmax aggregate
    // (max(struct(rank,-id))), never a data-sized window
    "d11_cluster_survivors" -> ((s, dir) => {
      val (key, path) = docsSidecar(s, dir, "d7_pairs")
      Dedup.clusterSurvivorsByRank(Tables.scan(s, dir, "documents"),
        "text", "doc_id", "lang", "n_chars", cacheKey = key,
        persistPath = path)
    }),

    // near-SUBSET duplicates (excerpt/quote dups symmetric jaccard
    // misses): directed containment |A∩B|/|A| >= 0.8 via asymmetric
    // PPJoin — contained side prefix-filters, container side posts all
    "d9_containment_pairs" -> ((s, dir) =>
      // the posting-join pass count is auto-sized from corpus volume
      // (postingPasses = 0): the bounded schedule is what gives d9 a
      // fourth-decade story — sequential hash-range passes, constant
      // spill
      Dedup.containmentPairs(Tables.scan(s, dir, "documents"),
        "text", "doc_id", "lang")),

    // exact SUBSTRING-level dedup (deduplicate-text-datasets class):
    // maximal spans of 8-token windows occurring in >= 2 distinct docs
    // (boilerplate/license chrome) — hash-grouped window postings, never
    // a driver suffix array
    "d12_substring_dedup" -> ((s, dir) => {
      val (key, path) = docsSidecar(s, dir, "d12_spans")
      Dedup.substringSpans(Tables.scan(s, dir, "documents"),
        "text", "doc_id", windowTokens = 8, minDocs = 2,
        cacheKey = key, persistPath = path)
    }),

    // the removal side: corpus with flagged spans stripped from the
    // token stream — the tiny span table broadcasts back and cleaning
    // is MAP-ONLY (indexed-lambda filter); text never shuffles
    // consumes d12's span sidecar: cleaning never re-derives postings
    "d13_substring_clean" -> ((s, dir) => {
      val (key, path) = docsSidecar(s, dir, "d12_spans")
      Dedup.substringClean(Tables.scan(s, dir, "documents"),
        "text", "doc_id", windowTokens = 8, minDocs = 2,
        cacheKey = key, persistPath = path)
    }),

    // SemDeDup: embedding-space dedup by cluster-then-compare. The cell
    // count is CORPUS-SIZED (sqrt(n/2), the d5 lesson — fixed k goes
    // quadratic as occupancy grows); at the correctness sf that yields
    // exactly 16, so the quantizer is the SAME cached corpus artifact
    // e3's IVF probe uses
    "d10_semdedup" -> ((s, dir) => {
      val emb = Tables.raw(s, dir, "embeddings")
        .withColumn("emb", col("embedding").cast("array<double>"))
      val k = Similarity.autoClusters(emb.count())
      Similarity.semDedup(emb, "vec_id", "emb",
        nClusters = k, threshold = 0.25,
        cacheKey = Some(s"ivf:$dir/embeddings:$k"))
        .select(col("vec_id"), col("cluster"), col("dup_of"),
          round(col("cosine"), 4).as("cosine"))
    }),

    "d5_embedding_neardup" -> ((s, dir) => {
      val emb = Tables.raw(s, dir, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      // synthetic embeddings are near-orthogonal (max pairwise cosine ≈0.48)
      // — low threshold so the demo yields pairs; plane count is sized
      // from the corpus (log2(n/64)) so candidate volume stays linear
      Dedup.embeddingNearDups(emb, "vec_id", "embedding", threshold = 0.25)
        .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))
    }),

    // ---------- §2.11 similarity search ----------

    "e1_knn_bruteforce" -> ((s, dir) => {
      val emb = Tables.raw(s, dir, "embeddings")
        .withColumn("emb", col("embedding").cast("array<double>"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("emb").as("qv"))
      Similarity.bruteForceTopK(emb, queries, "vec_id", "emb", "qid", "qv", k = 5)
        .select("query_id", "neighbor_id", "rank")
    }),

    // IVF: k-means cells + nProbe probing — the big-corpus ANN shape
    "e3_ann_ivf" -> ((s, dir) => {
      val emb = Tables.raw(s, dir, "embeddings")
        .withColumn("emb", col("embedding").cast("array<double>"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("emb").as("qv"))
      // nProbe=8 of 16 cells: recall@5 ≈ 0.80-0.92 vs brute force on this
      // corpus (pinned in OpsSpec)
      Similarity.ivfTopK(emb, queries, "vec_id", "emb", "qid", "qv",
        k = 5, nClusters = 16, nProbe = 8,
        // quantizer is a corpus artifact: fit once per dataset per JVM
        cacheKey = Some(s"ivf:$dir/embeddings:16"))
        .select("query_id", "neighbor_id", "rank")
    }),

    "e2_ann_lsh" -> ((s, dir) => {
      val emb = Tables.raw(s, dir, "embeddings")
        .withColumn("emb", col("embedding").cast("array<double>"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("emb").as("qv"))
      // corpus-sized buckets (occupancy ~64 at any scale) × 8 OR-amplified
      // tables + 2-bit multi-probe: per-query candidate volume is a
      // CONSTANT (~64 x probes x tables), recall@5 pinned in OpsSpec
      Similarity.annTopK(emb, queries, "vec_id", "emb", "qid", "qv", k = 5,
        nPlanes = 0, nTables = 8, probeBits = 2)
        .select("query_id", "neighbor_id", "rank")
    }),

    // ---------- §2.11 text analysis ----------

    "x1_token_count" -> ((s, dir) =>
      Par.ensure(Tables.scan(s, dir, "documents"))
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_calc"))),

    "x2_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.scan(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("punct_ratio"), 4).as("punct_ratio"),
          round(col("quality_score"), 4).as("quality_score"))),

    "x3_lang_id" -> ((s, dir) =>
      TextAnalysis.langIdEval(Tables.scan(s, dir, "documents"), "text", "lang")),

    "x4_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprintDF(Tables.scan(s, dir, "documents"), "text", "doc_id")),

    // corpus vocabulary: top tokens by occurrence — shuffle volume is
    // the vocabulary (distinct tokens after map-side combine), never the
    // corpus; the tokenizer-building step of a data pipeline
    "x5_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables.scan(s, dir, "documents"), "text", 200)),

    // per-doc top-5 TF-IDF terms: keyword extraction. Vocabulary-sized
    // document-frequency table (bounded broadcast, x8's guard), per-doc
    // top-k windows — no corpus-wide sort
    "x13_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidf(Tables.scan(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("term"), col("rnk"), col("tf"),
          round(col("score"), 6).as("score"))),

    // Gopher-style repetition filters: duplicate-token ratio +
    // most-frequent-bigram fraction per doc, keep verdict at fixed
    // thresholds; both shuffles keyed by doc_id (linear at any scale)
    "x7_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionMetrics(Tables.scan(s, dir, "documents"),
        "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("dup_token_ratio"), 6).as("dup_token_ratio"),
          round(col("top_bigram_frac"), 6).as("top_bigram_frac"),
          col("keep"))),

    // corpus-unigram NLL — the perplexity-filter stand-in: broadcast
    // vocabulary-sized unigram table, mean -ln p(token) per doc
    "x8_unigram_nll" -> ((s, dir) =>
      TextAnalysis.unigramNll(Tables.scan(s, dir, "documents"),
        "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("nll"), 6).as("nll"))),

    // bigram conditional NLL: one LM order above x8 — mean
    // -ln p(w_i | w_{i-1}) against corpus bigram/context counts, the
    // closer stand-in for the KenLM perplexity gate. Same frequency
    // floor + broadcast-or-shuffle guard as x8.
    "x15_bigram_nll" -> ((s, dir) =>
      TextAnalysis.bigramNll(Tables.scan(s, dir, "documents"),
        "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("bigram_nll"), 6).as("bigram_nll"))),

    // PII redaction: emails + long digit runs replaced by typed tags,
    // with per-doc match counts for quarantine routing. Pure codegen'd
    // regexp expressions, map-only. The fixture seeds each doc with a
    // deterministic synthetic email+number so the scrub provably fires
    // on every row in both engines.
    "x14_redact" -> ((s, dir) => {
      val seeded = Tables.scan(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call "),
          (col("doc_id") * 7919L + 10000000L).cast("string")).as("text"))
      TextAnalysis.redactPii(seeded, "doc_id", "text")
    }),

    // benchmark decontamination: corpus docs sharing any complete word
    // 8-gram with the benchmark split. The benchmark is a FIXED-COUNT
    // slice (first 100 doc ids), not a fixed fraction — an eval suite
    // stays eval-suite-sized however big the corpus grows, which is what
    // keeps the broadcast gram set O(benchmark) at 100 TB
    "x9_decontaminate" -> ((s, dir) => {
      val docs = Tables.scan(s, dir, "documents")
      TextAnalysis.decontaminate(
        docs.filter(col("doc_id") >= 100),
        docs.filter(col("doc_id") < 100),
        "doc_id", "text", n = 8)
    }),

    // the COMPOSED pipeline a training-data run actually executes, end
    // to end in one plan: quality gate (token count) -> exact dedup
    // (min-id survivor per identical text) -> benchmark decontamination
    // (8-gram overlap anti-join) -> corpus composition stats. Every
    // stage is an already-oracled operator; this query pins that they
    // COMPOSE — one DuckDB oracle recomputes the whole chain.
    "pipe_corpus" -> ((s, dir) => {
      val docs = Tables.scan(s, dir, "documents")
      val quality = docs.filter(TextAnalysis.tokenCount(col("text")) >= 20)
      val deduped = Dedup.exactSurvivors(quality, "text", "doc_id")
      val bench = docs.filter(col("doc_id") < 100)
      val corp = deduped.filter(col("doc_id") >= 100)
      // the decontamination probe reads the PRE-dedup gated corpus:
      // corp appears twice in the naive plan (probe + anti-join left
      // side), which re-runs the whole scan -> gate -> dedup-window
      // subtree — including its full-corpus exchange — a second time
      // (caching corp instead measured WORSE warm at sf1: 1.2 -> 1.45 s,
      // the d12 finding again — the corpus-sized cache write costs more
      // than the pass it saves). Probing pre-dedup is row-set
      // equivalent: a dedup winner carries its own text (same row both
      // sides, ids unique in documents), so its hit verdict is
      // unchanged, and a dedup LOSER only adds hit ids that the
      // anti-join's left side no longer contains — dead rows in a
      // membership probe. The dedup exchange now runs once; equivalence
      // pinned in OpsSpec + oracle.
      val hits = TextAnalysis.decontaminate(
          quality.filter(col("doc_id") >= 100), bench,
          "doc_id", "text", n = 8)
        .select(col("doc_id"))
      corp.join(hits, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    }),

    // the FULL recipe: quality gate -> exact dedup -> decontamination ->
    // deterministic mixture resampling (3:2:1 source ratio over the
    // clean corpus) -> shard + concat-and-chop packing, as ONE composed
    // plan — pins that the sampling and packing stages compose with the
    // cleaning stages. Output: per-shard window/doc/token totals; the
    // DuckDB oracle recomputes the whole five-stage chain.
    "pipe_corpus_full" -> ((s, dir) => {
      val docs = Tables.scan(s, dir, "documents")
      val quality = docs.filter(TextAnalysis.tokenCount(col("text")) >= 20)
      val deduped = Dedup.exactSurvivors(quality, "text", "doc_id")
      val bench = docs.filter(col("doc_id") < 100)
      val corp = deduped.filter(col("doc_id") >= 100)
      // pre-dedup decontamination probe — same dual-consumer shape and
      // same row-set-equivalence argument as pipe_corpus (see the
      // comment there): the dedup window's full-corpus exchange runs
      // once instead of twice, no corpus-sized cache needed
      val hits = TextAnalysis.decontaminate(
          quality.filter(col("doc_id") >= 100), bench,
          "doc_id", "text", n = 8)
        .select(col("doc_id"))
      // persist the cleaned corpus before the fan-out: the mixture stage
      // consumes it several times (per-source counts, the candidate cut,
      // the exact-rank selection) and without a cache each pass would
      // recompute the gate + dedup shuffle + decontamination join from
      // scratch — at scale that triples the pipeline's dominant cost
      // tracked via Caches so a shared-session harness can release it
      // after the query's result is consumed (Verify/Bench do)
      val clean = graft.ops.Caches.track(
        corp.join(hits, Seq("doc_id"), "left_anti"))
      val parts = (0 until 20).map(i =>
        s"src$i" -> (if (i < 5) 3 else if (i < 10) 2 else 1)).toMap
      val mixed = Corpus.mixtureSample(clean, "source", "doc_id", parts)
      val packed = Corpus.packWindows(mixed, "doc_id", "text",
        windowTokens = 256, nShards = 4)
      packed.groupBy(col("shard"))
        .agg(countDistinct(col("win")).as("n_windows"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum("n_tokens").as("sum_tokens"))
    }),

    // deterministic mixture resampling: per-source quotas in exact
    // integer ratio 3:2:1 (first five sources 3, next five 2, rest 1),
    // scarcest source sets the budget — all-integer, RNG-free
    "x10_source_mix" -> ((s, dir) => {
      val parts = (0 until 20).map(i =>
        s"src$i" -> (if (i < 5) 3 else if (i < 10) 2 else 1)).toMap
      Corpus.mixtureSample(Tables.scan(s, dir, "documents"),
        "source", "doc_id", parts)
        .select("source", "doc_id")
    }),

    // deterministic shard layout: (shard, pos) placement for a sharded
    // training-data writer, reproducible across engines
    "x11_shard_assign" -> ((s, dir) =>
      Corpus.shardAssign(Tables.scan(s, dir, "documents"), "doc_id", 8)),

    // concat-and-chop sequence packing: per-shard prefix sum over token
    // COUNTS, docs chopped into fixed 256-token training windows
    "x12_pack_windows" -> ((s, dir) =>
      Corpus.packWindows(Tables.scan(s, dir, "documents"),
        "doc_id", "text", windowTokens = 256, nShards = 4)),

    // deterministic stratified sampling: k docs per language chosen by a
    // fixed integer mix of the id — reproducible across engines/runs (no
    // RNG), the shape "sample k per stratum" takes at corpus scale
    "x6_stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(Tables.scan(s, dir, "documents"),
        "lang", "doc_id", 10)
        .select("lang", "doc_id")),

    // ---------- §2.11 multimodal ----------

    "mm1_media_meta" -> ((s, dir) =>
      Multimodal.asMedia(Tables.scan(s, dir, "documents"), "text")
        .select(col("doc_id"), col("media_meta.n_bytes").as("n_bytes"))),

    // REAL image decode: deterministic grayscale PNGs are rendered
    // executor-side from the closed form lum(x,y)=(7x+13y+31·id)%256,
    // then decoded back with javax.imageio and pooled into per-band
    // luminance means. The DuckDB oracle recomputes the pooled features
    // from the closed form WITHOUT ever touching a PNG byte — an
    // independent engine confirms the decode path end-to-end.
    // The rendered-media fixture is a FIXED-COUNT slice (first 20k doc
    // ids, covering every doc at the correctness scale factor): a
    // synthetic-image corpus stays fixture-sized however big the TEXT
    // corpus grows — the decode stage itself is linear in images and
    // its per-image cost is what the benchmark should price, not an
    // ever-growing fixture render.
    "mm2_features" -> ((s, dir) => {
      val media = Multimodal.asRenderedMedia(s,
        Tables.scan(s, dir, "documents").filter(col("doc_id") < 20000),
        "doc_id")
      Multimodal.extractFeatures(s, media, "doc_id")
        .select(col("doc_id"), col("width"), col("height"),
          round(element_at(col("features"), 1), 4).as("f0"))
    }),

    // REAL pixel resize: decode the rendered PNG, nearest-neighbor
    // resample to 64x64 (output pixel (X,Y) samples input pixel
    // (floor(X*w/64), floor(Y*h/64))), re-encode to PNG, RE-DECODE, and
    // pool band-0 luminance — the oracle recomputes the pooled value
    // from the closed pixel form under the same floor mapping, so a
    // match proves the whole decode->resample->encode->decode chain.
    "mm3_resize" -> ((s, dir) => {
      val media = Multimodal.asRenderedMedia(s,
        Tables.scan(s, dir, "documents").filter(col("doc_id") < 20000),
        "doc_id")
      Multimodal.resize(s, media, "doc_id", 64, 64)
        .select(col("doc_id"), col("width"), col("height"),
          round(element_at(col("features"), 1), 4).as("f0"))
    }),

    // REAL frame sampling: 8-frame animated GIFs rendered from the
    // closed form lum_k(x,y)=(7x+13y+31*id+17k)%256 are decoded with
    // javax.imageio, every 2nd frame kept, per-frame band-0 luminance
    // pooled — one row in, one row per sampled frame out. The oracle
    // recomputes each sampled frame's pooled value from the formula
    // without parsing a GIF byte.
    "mm4_frames" -> ((s, dir) => {
      val video = Multimodal.asRenderedVideo(s,
        Tables.scan(s, dir, "documents").filter(col("doc_id") < 20000),
        "doc_id", nFrames = 8)
      Multimodal.sampleFrames(s, video, "doc_id", stride = 2)
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          round(element_at(col("features"), 1), 4).as("f0"))
    }),

    // REAL audio decode: deterministic 8 kHz mono int16 WAV clips are
    // rendered executor-side from the closed form
    // s_k=((31*id+7k)%65536)-32768, parsed back with javax.sound.sampled,
    // and windowed mean-absolute amplitudes pooled — the oracle
    // recomputes window 0's value from the formula without parsing a
    // WAV byte (PCM is lossless, sums are exact integers).
    "mm5_audio" -> ((s, dir) => {
      val audio = Multimodal.asRenderedAudio(s,
        Tables.scan(s, dir, "documents").filter(col("doc_id") < 20000),
        "doc_id")
      Multimodal.audioFeatures(s, audio, "doc_id")
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          round(element_at(col("features"), 1), 4).as("f0"))
    }),

    // ---------- §2.9-adjacent event processing ----------

    // total_value as per-row-rounded cents summed as longs: double-sum
    // order differs between engines, so a double total can drift in the
    // last ulp and flip round(..,2) at a half boundary
    "ev_sessionize" -> ((s, dir) =>
      Events.sessionize(Events.load(s, dir), gapMinutes = 30)
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("duration_s"),
          sum(round(col("value") * 100, 0).cast("long")).as("total_value_cents"))
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("duration_s"), col("total_value_cents"))),

    // §2.9 extension: the SAME hourly aggregation as a Structured
    // Streaming job (readStream + watermark + window, AvailableNow) —
    // its output must equal the batch oracle exactly
    "st_hourly_stream" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      // readStream needs a directory; glob-filter to the events file
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .transform(Events.normalizeTs)
      val counts = graft.streaming.StreamOps.hourlyCounts(stream)
      // state stores are instantiated per shuffle partition: size the
      // stateful aggregation's partitions from the input's split count
      // (see StreamOps.withInputSizedShuffle; same lever as the
      // interval join) — grows with data, capped by the session default
      graft.streaming.StreamOps.withInputSizedShuffle(s,
        eventsInputParts(s, dir, batchSchema)) {
        graft.streaming.StreamOps.runToParquet(s, counts,
          org.apache.spark.sql.streaming.OutputMode.Complete())
      }
        .select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
          col("event_type"), col("n"),
          round(col("total_value"), 2).as("total_value"))
    }),

    "ev_hourly_counts" -> ((s, dir) =>
      Events.hourlyCounts(Events.load(s, dir))
        // window().start is session-TZ TIMESTAMP; the oracle's is naive
        .select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
          col("event_type"), col("n"),
          round(col("total_value"), 2).as("total_value"))),

    // streaming exact dedup: the ingest gate — count surviving keys (which
    // physical row survives per key is arrival-order-dependent; the KEY
    // SET is deterministic)
    "st_dedup_stream" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .transform(Events.normalizeTs)
      // prune to the key + watermark columns before the stateful op: the
      // dedup state and the sink only ever need these
      val deduped = graft.streaming.StreamOps.streamingDedup(
        stream.select("ts", "user_id", "event_type"), Seq("user_id", "event_type"))
      // input-sized state partitions (see StreamOps.withInputSizedShuffle)
      graft.streaming.StreamOps.withInputSizedShuffle(s,
        eventsInputParts(s, dir, batchSchema)) {
        graft.streaming.StreamOps.runToParquet(s, deduped)
      }
        .agg(count(lit(1)).as("n_keys"))
    }),

    // streaming ingest INTO the table format: micro-batches append through
    // a Transaction with batch-id idempotence; the landed table must equal
    // the source exactly (exactly-once contents)
    "st_ingest_table" -> ((s, dir) => Fixtures.streamIngest(s, dir).newScan().toDF(s)),

    // streaming CDC upsert: per-batch merge-on-read MERGE with the
    // exactly-once marker inside each merge's atomic commit; the scan
    // must apply the accumulated position deletes to converge on the
    // raw events (seeded corruption updated away, remainder inserted)
    "st_upsert_table" -> ((s, dir) => Fixtures.streamUpsert(s, dir).newScan().toDF(s)),

    // streaming SOURCE: readStream.format("graft-table") follows the
    // table's snapshots (one micro-batch per append range, checkpointed
    // by snapshot id); the parquet sink must converge on the table
    "st_follow_table" -> ((s, dir) =>
      s.read.parquet(Fixtures.streamFollowOut(s, dir))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))),

    // changelog streaming (mode=cdc): the stream emits raw
    // _change_type-stamped rows per snapshot range; the query pairs each
    // key's delete+insert within a commit into update pre/post images —
    // the same rule as planChangelog — so the result hash-matches the
    // batch changelog over the identical history
    "st_cdc_follow" -> ((s, dir) => {
      val out = Fixtures.streamCdcOut(s, dir)
      val base = s.read.parquet(out)
      val w = Window.partitionBy(col("o_orderkey"), col("_commit_snapshot_id"))
      val nDel = sum(when(col("_change_type") === "delete", 1).otherwise(0)).over(w)
      val nIns = sum(when(col("_change_type") === "insert", 1).otherwise(0)).over(w)
      base.withColumn("__nd", nDel).withColumn("__ni", nIns)
        .withColumn("_change_type",
          when(col("__nd") === 1 && col("__ni") === 1,
            when(col("_change_type") === "delete", lit("update_preimage"))
              .otherwise(lit("update_postimage")))
            .otherwise(col("_change_type")))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"), col("_change_type"))
    }),

    // admission control: the same drain under max-files-per-trigger=1 —
    // batch count gated in-fixture, content oracled (backfilling 100 TB
    // through a stream NEEDS pacing; an unpaced first batch is the
    // whole table)
    "st_rate_limit" -> ((s, dir) =>
      s.read.parquet(Fixtures.streamRateLimitOut(s, dir))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))),

    // DELETE mid-stream: fail-by-default gated in the fixture; the
    // oracled result pins the OPT-IN skip semantics — both appends
    // drain, the delete snapshot feeds no batch, deleted rows remain
    "st_skip_nonappend" -> ((s, dir) =>
      s.read.parquet(Fixtures.streamSkipOut(s, dir))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))),

    // as-of join (point-in-time lookup): each odd event picks the LATEST
    // even event at-or-before its timestamp for the same user — the
    // union+window single-shuffle formulation, oracled by DuckDB's
    // native ASOF JOIN
    "q_asof_join" -> ((s, dir) => {
      val ev = Events.load(s, dir).select("event_id", "ts", "user_id", "value")
      val left = ev.filter(col("event_id") % 2 === 1)
        .select("event_id", "ts", "user_id")
      // determinism at equal (user, ts): keep the max event_id. The
      // asofJoin tie contract (ties among right rows at one (key, ts)
      // resolve to the LAST row in tieCol ascending order) computes
      // exactly that winner inside the one asof window, so the r18-era
      // (user, ts) dedup window — a second full exchange + sort of the
      // right side — is redundant; OpsSpec pins tieCol ≡ dedup-window
      val right = ev.filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("ts"),
          col("event_id").as("matched_id"), col("value").as("matched_value"))
      graft.ops.AsOf.asofJoin(left, right, "user_id", "ts",
        Seq("matched_id", "matched_value"), tieCol = Some("matched_id"))
        .select(col("event_id"), col("user_id"), col("matched_id"),
          round(col("matched_value"), 2).as("matched_value"))
    }),

    // range (interval) join: each non-error event matched to every
    // 2-hour window opened by a same-user error event. Grid-cell
    // equi-join on (user, time-cell) — the join key carries a time
    // dimension so a hot key spreads over its range instead of one
    // reducer; exact containment re-checked after (RangeJoin scaladoc)
    "q_range_join" -> ((s, dir) => {
      val ev = Events.load(s, dir)
      val left = ev.filter(col("event_type") =!= "error")
        .select(col("user_id"), col("event_id"), col("ts"))
      val right = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("window_id"),
          col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("win_end"))
      graft.ops.RangeJoin.pointInInterval(left, right,
        Seq("user_id"), "ts", "win_start", "win_end",
        cellWidthMicros = 2L * 3600 * 1000000)
        .select(col("user_id"), col("event_id"), col("window_id"))
    }),

    // stream-stream INNER interval join: same-user event pairs within 15
    // minutes — inner matches emit eagerly per micro-batch, so the finite
    // AvailableNow replay equals the batch self-join exactly
    "st_interval_join" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      // scope both sides to a user cohort BEFORE the join: a stream-stream
      // join writes every input row to the state store, so the key
      // predicate (pushed below the join) is the state/IO lever
      def stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .transform(Events.normalizeTs)
        .select("event_id", "ts", "user_id")
        .filter(col("user_id") % 5 === 0)
      val joined = graft.streaming.StreamOps.intervalJoin(stream, stream, "user_id", 15)
        .select(col("l.user_id").as("user_id"),
          col("l.event_id").as("e1"), col("r.event_id").as("e2"))
      // a stream-stream join instantiates 4 state stores PER shuffle
      // partition, so the fixed per-store cost dominates on small inputs —
      // size the join's shuffle from the INPUT's split count (grows with
      // data volume), capped by the session default so a cluster-sized
      // session is never narrowed below what the operator configured
      graft.streaming.StreamOps.withInputSizedShuffle(s,
        eventsInputParts(s, dir, batchSchema)) {
        graft.streaming.StreamOps.runToParquet(s, joined)
      }
    }),

    // custom per-key state (mapGroupsWithState): the handler's FINAL
    // running session per user — ms-precision timestamps (Timestamp
    // .getTime), sessions split on gap > 30min
    "st_mgws_sessions" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .transform(Events.normalizeTs)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[graft.streaming.StreamOps.Event]
      val updates = graft.streaming.StreamOps.sessionizeWithState(stream, 30)
      // input-sized state partitions (see StreamOps.withInputSizedShuffle)
      val mem = graft.streaming.StreamOps.withInputSizedShuffle(s,
        eventsInputParts(s, dir, batchSchema)) {
        graft.streaming.StreamOps.runToParquet(s, updates.toDF(),
          org.apache.spark.sql.streaming.OutputMode.Update())
      }
      // multiple micro-batches can emit several updates per user: keep the
      // final state (latest session start, most events)
      val w = Window.partitionBy("user_id")
        .orderBy(col("session_start").desc, col("n_events").desc)
      mem.filter(!col("closed"))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("n_events"))
    }),

    // declarative session_window over a STREAM: new session when
    // ts >= prev + gap; per-row cents keep the sum engine-stable
    "st_session_stream" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .transform(Events.normalizeTs)
        .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      val sessions = stream
        .withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum("cents").as("total_value_cents"))
        .select(col("user_id"),
          col("session_window.start").cast("timestamp_ntz").as("session_start"),
          col("n_events"), col("total_value_cents"))
      // deliberately NOT input-sized (unlike st_dedup/st_hourly/st_mgws):
      // session_window merges state per EVENT, so its work is data-sized
      // — pinning it to a small input's split count serializes that work
      // (measured at sf1 warm: 6.0 s sized vs 3.6 s at session default)
      graft.streaming.StreamOps.runToParquet(s, sessions,
        org.apache.spark.sql.streaming.OutputMode.Complete())
    }),

    // storage-partitioned join (V2 connector): both sides bucketed on the
    // join key -> KeyGroupedPartitioning is REQUIRED to produce a
    // shuffle-free plan, and the query FAILS if an exchange appears — the
    // correctness gate doubles as the plan gate. At 100 TB this is the
    // co-located fact-fact join.
    "spj_join" -> ((s, dir) => {
      Fixtures.spjTables(s, dir)
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      val prev = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
        .map(k => k -> s.conf.getOption(k))
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val joined = s.table("ice.tpch.spj_orders")
          .join(s.table("ice.tpch.spj_lineups"), "o_orderkey")
        val plan = joined.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          s"storage-partitioned join must not shuffle; plan:\n$plan")
        joined.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("revenue"))
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }),

    // SPJ + SupportsReportOrdering: co-bucketed tables whose files were
    // written under a declared key sort order sort-merge-join with ZERO
    // exchanges AND ZERO sorts — both plan-gated in-query. At 100 TB
    // this is the difference between a join that moves nothing and one
    // that still re-sorts every partition it didn't shuffle.
    "spj_sorted_join" -> ((s, dir) => {
      Fixtures.spjSortedTables(s, dir)
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      val prev = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
        .map(k => k -> s.conf.getOption(k))
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val joined = s.table("ice.tpch.spjs_orders")
          .join(s.table("ice.tpch.spjs_lineups"), "o_orderkey")
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.contains("SortMergeJoin"),
          s"fixture expects a sort-merge join; plan:\n$plan")
        require(!plan.contains("Exchange"),
          s"storage-partitioned join must not shuffle; plan:\n$plan")
        require(!plan.contains("Sort "),
          s"key-sorted files must satisfy SMJ ordering with no Sort; plan:\n$plan")
        joined.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("n_items").as("total_items"))
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }),

    // NDV statistics CONSUMED by planning: the V2 scan reports
    // theta-sketch-refined size/rows (SupportsReportStatistics), so an
    // equality-filtered dimension drops under the broadcast threshold
    // while the unfiltered scan (raw size) does not. Both directions are
    // plan-GATED in-query, like spj_join: the flip happens exactly when
    // the stats say the build side is small.
    "q_stats_broadcast" -> ((s, dir) => {
      Fixtures.stats(s, dir)
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      val prev = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.enabled").map(k => k -> s.conf.getOption(k))
      // threshold sits BETWEEN the ndv-scaled estimate (~bytes) and the
      // raw file size (tens of KB to MB at any sf) — the decision is
      // driven purely by what the scan reports
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10240")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val fact = Tables.raw(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        val dim = s.table("ice.tpch.stats_orders").filter(col("o_custkey") === 37)
        val joined = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.contains("BroadcastHashJoin"),
          s"ndv-scaled dim must broadcast; plan:\n$plan")
        val full = fact.join(s.table("ice.tpch.stats_orders"),
          fact("l_orderkey") === col("o_orderkey"))
        val fullPlan = full.queryExecution.executedPlan.toString
        require(!fullPlan.contains("BroadcastHashJoin"),
          s"unfiltered dim reports raw size and must NOT broadcast; plan:\n$fullPlan")
        joined.groupBy(dim("o_orderstatus"))
          .agg(count(lit(1)).as("n_items"),
            round(sum("l_quantity"), 2).as("qty"))
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }),

    // Metadata-answered aggregates: COUNT(*)/COUNT(col)/MIN/MAX served
    // entirely from manifest metrics through SupportsPushDownAggregates —
    // at 100 TB a bare count is a driver metadata walk, not a scan. The
    // gate REQUIRES the pushdown fired and the scan collapsed to the
    // single metadata row; the oracle recomputes the same aggregates
    // from the raw parquet.
    "q_agg_pushdown" -> ((s, dir) => {
      Fixtures.aggPush(s, dir)
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      import graft.ice.connector.GraftAggPushStats
      val before = GraftAggPushStats.pushes.get()
      val df = s.sql(
        """SELECT count(*) AS n_rows, count(o_custkey) AS n_cust,
          |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
          |       max(o_orderstatus) AS max_status, min(o_orderdate) AS min_date
          |FROM ice.tpch.aggpush_orders""".stripMargin)
      val nSplits = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.size
        }
      require(GraftAggPushStats.pushes.get() > before,
        "aggregate must be answered from metadata, not a data scan")
      require(nSplits.contains(1),
        s"metadata aggregate must plan exactly one row, got $nSplits splits")
      df
    }),

    // TopN pushdown: ORDER BY o_orderkey LIMIT 10 over a range-
    // clustered sorted table plans only the end-run of range-disjoint
    // files covering the limit (bounds-proved). At 100 TB "latest N by
    // timestamp" opens one file instead of scanning the table. Gated
    // in-query: the push fires AND plans fewer files than the table has.
    "q_topn_pushdown" -> ((s, dir) => {
      Fixtures.topN(s, dir)
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      import graft.ice.connector.GraftTopNStats
      val before = GraftTopNStats.pushes.get()
      val df = s.table("ice.tpch.topn_orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey").desc)
        .limit(10)
      df.queryExecution.executedPlan // planning runs the pushdown rules
      require(GraftTopNStats.pushes.get() > before,
        "TopN must push into the scan")
      require(GraftTopNStats.lastPlanned < GraftTopNStats.lastTotal,
        s"TopN must plan a strict subset of files " +
          s"(${GraftTopNStats.lastPlanned}/${GraftTopNStats.lastTotal})")
      df
    }),

    // GROUPED aggregate pushdown: GROUP BY an identity-partition column
    // is answered entirely from manifests — one scan split PER GROUP,
    // zero data files opened. The most common metadata-answerable query
    // at 100 TB ("count per partition") costs a driver metadata walk.
    "q_agg_pushdown_grouped" -> ((s, dir) => {
      Fixtures.aggPushGrouped(s, dir)
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      import graft.ice.connector.GraftAggPushStats
      val before = GraftAggPushStats.pushes.get()
      val df = s.sql(
        """SELECT o_orderstatus, count(*) AS n_rows, count(o_custkey) AS n_cust,
          |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
          |FROM ice.tpch.aggpush_grouped
          |GROUP BY o_orderstatus""".stripMargin)
      val nSplits = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.size
        }
      require(GraftAggPushStats.pushes.get() > before,
        "grouped aggregate must be answered from metadata, not a data scan")
      require(nSplits.contains(GraftAggPushStats.lastRows) && nSplits.exists(_ >= 2),
        s"metadata aggregate must plan one split per group, got $nSplits " +
          s"splits for ${GraftAggPushStats.lastRows} groups")
      df
    }),

    // float MIN/MAX from metadata: possible ONLY because the fixture
    // table records per-file NaN counts at write (graft.write.nan-counts)
    // — a zero NaN count plus exact bounds makes the double provable
    "q_agg_pushdown_float" -> ((s, dir) => {
      Fixtures.aggPushFloat(s, dir)
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      import graft.ice.connector.GraftAggPushStats
      val before = GraftAggPushStats.pushes.get()
      val df = s.sql(
        """SELECT count(*) AS n_rows, min(o_totalprice) AS min_price,
          |       max(o_totalprice) AS max_price
          |FROM ice.tpch.aggpush_prices""".stripMargin)
      df.queryExecution.executedPlan
      require(GraftAggPushStats.pushes.get() > before,
        "NaN-counted double column must push MIN/MAX to metadata")
      df
    }),

    // CALL maintenance procedures (V2 ProcedureCatalog): snapshot, mutate,
    // roll back through SQL — the surviving table must equal the original
    "proc_rollback" -> ((s, dir) => {
      val t = Fixtures.procTable(s, dir)
      s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(dir))
      s.table("ice.tpch.proc_orders")
    })
  )

  /** Oracle SQL that needs a session-computed artifact, merged OVER
    * [[oracleSql]] by Verify when dumping oracle_sql.json.
    *
    * d10 (SemDeDup) previously shipped a builder-minted golden VALUES
    * table; this replaces it with an INDEPENDENT DuckDB recompute of the
    * whole operator — nearest-centroid assignment (argmin squared
    * euclidean, ties to the lowest cell), within-cluster pair scan,
    * cosine threshold, and min-witness survivor selection are all
    * re-derived by DuckDB from the raw embeddings. Only the centroids
    * are inlined (e-notation literals parse as DOUBLE, full round-trip
    * precision): the quantizer is the engine's one shared deterministic
    * corpus artifact (Similarity.fitQuantizer — driver Lloyd loop over a
    * partition-invariant hash sample), exactly as a sidecar file would
    * be shared with any external engine. */
  def dynamicOracleSql(spark: SparkSession, dir: String): Map[String, String] = {
    val emb = Tables.raw(spark, dir, "embeddings")
      .withColumn("emb", col("embedding").cast("array<double>"))
    val k = graft.ops.Similarity.autoClusters(emb.count())
    val cents = graft.ops.Similarity.centroidsFor(emb, "vec_id", "emb", k,
      cacheKey = Some(s"ivf:$dir/embeddings:$k"))
    def dbl(d: Double): String = {
      val s = d.toString
      if (s.contains('E') || s.contains('e')) s else s + "e0"
    }
    val centValues = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(dbl).mkString(", ")}])"
    }.mkString(", ")
    Map("d10_semdedup" ->
      s"""WITH cents(cell, c) AS (VALUES $centValues),
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dist AS (
        |  SELECT e.vec_id, e.v, cc.cell,
        |    list_sum(list_transform(range(1, len(e.v) + 1),
        |      i -> (e.v[i] - cc.c[i]) * (e.v[i] - cc.c[i]))) AS d
        |  FROM emb e CROSS JOIN cents cc),
        |asg AS (
        |  SELECT vec_id, v, cell AS cluster FROM (
        |    SELECT vec_id, v, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |    FROM dist) WHERE rn = 1),
        |pair AS (
        |  SELECT a.cluster, a.vec_id AS aid, b.vec_id AS bid,
        |    list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
        |      (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
        |       sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
        |SELECT bid AS vec_id, CAST(min(cluster) AS INTEGER) AS cluster,
        |  min(aid) AS dup_of, round(arg_min(cos, aid), 4) AS cosine
        |FROM pair WHERE cos >= 0.25
        |GROUP BY bid""".stripMargin)
  }

  /** SQL form of [[graft.ops.Corpus.mixKey]] — the multiply split into
    * 16-bit halves so no intermediate exceeds 2^48: the naive
    * `id * 2654435761` overflows int64 above id ~3.47e9, where DuckDB
    * errors while non-ANSI Spark wraps. This decomposition is the SAME
    * integer arithmetic both engines execute exactly over the full long
    * range, so the bit-reproducibility claim holds at 100-TB id scales. */
  private def mixKeySql(id: String): String =
    s"((($id % 4294967296) // 65536 * 2654435761 % 65536) * 65536" +
      s" + ($id % 65536) * 2654435761 + 1013904223) % 4294967296"

  def oracleSql: Map[String, String] = Map(
    "s6_scan_filter_project" ->
      """SELECT l_orderkey, l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-06-01 00:00:00'""".stripMargin,
    "s9_avro_roundtrip" -> "SELECT * FROM nation",
    "s16_avro_scan" -> "SELECT * FROM region",
    "s16_avro_write" -> "SELECT * FROM supplier",
    "s17_orc_scan" -> "SELECT * FROM nation",
    "s17_orc_write" -> "SELECT * FROM part",
    "s10_parquet_sink" -> "SELECT * FROM region",
    "p1_projection" -> "SELECT c_custkey, c_name, c_acctbal FROM customer",
    "p3_schema_evolution" ->
      "SELECT n_name AS nation_name, CAST(n_nationkey AS BIGINT) AS n_nationkey FROM nation",
    "p7_default_values" ->
      """SELECT s_suppkey, s_name,
        |  CASE WHEN s_suppkey % 2 = 0 THEN 'STANDARD' ELSE 'BASIC' END AS s_tier,
        |  CASE WHEN s_suppkey % 2 = 0 THEN 7 ELSE 42 END AS s_score,
        |  TRUE AS s_flag
        |FROM supplier""".stripMargin,
    "f2_filter_in" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_discount FROM lineitem
        |WHERE l_returnflag IN ('A','N') AND l_discount > 0.05""".stripMargin,
    "f4_filter_null_bounds" ->
      "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal IS NOT NULL AND c_acctbal < 0.0",
    "f1_filter_startswith" ->
      "SELECT p_partkey, p_name, p_brand FROM part WHERE p_name LIKE 'red%'",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment""".stripMargin,
    "q_join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_dpp_filejoin" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag""".stripMargin,
    "q3_join3_topk" ->
      """SELECT o_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 2""".stripMargin,
    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING), 2) AS running_qty
        |FROM lineitem""".stripMargin,
    "q_sort_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "q_setop_except" ->
      "SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey AS k FROM orders",
    "q_setop_intersect_union" ->
      """WITH big AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000.0),
        | building AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
        | inter AS (SELECT k FROM big INTERSECT SELECT k FROM building),
        | exc AS (SELECT k FROM building EXCEPT SELECT k FROM big)
        |SELECT DISTINCT k FROM (SELECT k FROM inter UNION ALL SELECT k FROM exc)""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS price_p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_semi_anti" ->
      """SELECT count(*) AS n, 'with_orders' AS kind FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT count(*) AS n, 'without_orders' AS kind FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin,
    "q5_join5" ->
      """SELECT r_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "t_transform_day" ->
      """SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_day,
        |o_orderkey FROM orders""".stripMargin,
    "t_transform_month_year" ->
      """SELECT (year(l_shipdate) - 1970) AS ship_year,
        |  (year(l_shipdate) - 1970) * 12 + month(l_shipdate) - 1 AS ship_month,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "t_transform_truncate" ->
      """SELECT p_partkey, substr(p_name, 1, 3) AS name_trunc3,
        |  p_size - ((p_size % 100 + 100) % 100) AS size_trunc100
        |FROM part""".stripMargin,
    "t_transform_hour" ->
      """SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS INT) AS event_hour,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "t3_time_travel" -> "SELECT * FROM orders WHERE o_orderkey % 10 < 5",
    "t_gzip_metadata" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "t_parquet_tuning" ->
      "SELECT p_partkey, p_name, p_retailprice FROM part",
    "t_split_read" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem WHERE l_quantity > 0 GROUP BY 1""".stripMargin,
    "t_read_vectorization" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(c_acctbal), 2) AS bal
        |FROM customer GROUP BY 1""".stripMargin,
    "t_upsert_default" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 3
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    "t_metrics_modes" ->
      """SELECT count(c_name) AS n_name, min(c_name) AS min_name,
        |  max(c_name) AS max_name, min(c_acctbal) AS min_bal,
        |  max(c_acctbal) AS max_bal
        |FROM customer""".stripMargin,
    "t_object_store" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |GROUP BY 1""".stripMargin,
    "t_data_path_move" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "t_partition_summary" ->
      """SELECT o_orderpriority AS pri, count(*) AS added_records
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_rollback" -> "SELECT * FROM orders WHERE o_orderkey % 10 < 5",
    "t2_branch_scan" -> "SELECT * FROM orders WHERE o_orderkey % 10 < 5",
    "t_as_of_timestamp" -> "SELECT * FROM orders WHERE o_orderkey % 10 < 5",
    "t_incremental_scan" -> "SELECT * FROM orders WHERE o_orderkey % 10 >= 5",
    "t_spec_evolution" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
    "m_manifests" ->
      """SELECT CAST(1 AS BIGINT) AS n_manifests,
        |  CAST(count(DISTINCT date_trunc('month', CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) AS n_files
        |FROM orders""".stripMargin,
    "m_partitions" ->
      """SELECT CAST((year(CAST(o_orderdate AS TIMESTAMP)) - 1970) * 12
        |    + month(CAST(o_orderdate AS TIMESTAMP)) - 1 AS VARCHAR) AS partition,
        |  CAST(count(*) AS BIGINT) AS record_count
        |FROM orders GROUP BY 1""".stripMargin,
    "m_expire" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(1 AS BIGINT) AS n_snapshots FROM orders",
    "m_refs" ->
      "SELECT 'main' AS name, 'branch' AS type UNION ALL SELECT 'v1', 'tag'",
    "cdc_changes" ->
      """SELECT o_orderkey, o_orderstatus, 'delete' AS _change_type
        |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0""".stripMargin,
    "cdc_updates" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
        |       'update_preimage' AS _change_type
        |FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, round(o_totalprice + 1000, 2),
        |       'update_postimage'
        |FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL
        |SELECT o_orderkey + 1000000000, o_orderstatus, round(o_totalprice, 2),
        |       'insert'
        |FROM orders WHERE o_orderkey % 100 = 7""".stripMargin,
    "cdc_cow_overwrite" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
        |       'update_preimage' AS _change_type
        |FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, round(o_totalprice + 1000, 2),
        |       'update_postimage'
        |FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL
        |SELECT o_orderkey + 1000000000, o_orderstatus, round(o_totalprice, 2),
        |       'insert'
        |FROM orders WHERE o_orderkey % 100 = 7""".stripMargin,
    "cdc_ordinal" ->
      """WITH u AS (SELECT o_orderkey, o_totalprice FROM orders
        |           WHERE o_orderpriority = '1-URGENT')
        |SELECT o_orderkey, round(o_totalprice, 2) AS price,
        |       'delete' AS _change_type, CAST(0 AS INTEGER) AS _change_ordinal
        |FROM u
        |UNION ALL SELECT o_orderkey, round(o_totalprice + 500, 2), 'insert',
        |       CAST(0 AS INTEGER) FROM u
        |UNION ALL SELECT o_orderkey, round(o_totalprice + 500, 2), 'delete',
        |       CAST(1 AS INTEGER) FROM u
        |UNION ALL SELECT o_orderkey, round(o_totalprice + 1000, 2), 'insert',
        |       CAST(1 AS INTEGER) FROM u""".stripMargin,
    "cdc_net_changes" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price,
        |       'delete' AS _change_type
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, round(o_totalprice + 1000, 2), 'insert'
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "proc_changelog_view" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price,
        |       'delete' AS _change_type
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, round(o_totalprice + 1000, 2), 'insert'
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "c_addfiles" -> "SELECT * FROM nation",
    "c_register" -> "SELECT * FROM region",
    "m_entries" ->
      """SELECT 0 AS manifest_content, CAST(count(*) AS BIGINT) AS n_rows
        |FROM orders
        |UNION ALL
        |SELECT 1, CAST(count(*) AS BIGINT) FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0""".stripMargin,
    "m_all_files" ->
      """SELECT CAST(2 * count(*) AS BIGINT) AS all_rows,
        |  CAST(count(*) AS BIGINT) AS live_rows
        |FROM nation""".stripMargin,
    "m_position_deletes" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_pos_deletes FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0""".stripMargin,
    "proc_snapshot_table" -> "SELECT * FROM region",
    "proc_add_files_hive" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
        |FROM orders""".stripMargin,
    "proc_cherrypick" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
        |FROM orders""".stripMargin,
    "c_rest" -> "SELECT * FROM region",
    "c_rest_plan" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "c_rest_plan_mor" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM orders WHERE o_orderkey >= 100""".stripMargin,
    "t2_wap" -> "SELECT * FROM supplier",
    "mrg_upsert" -> ("""
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders
      UNION ALL
      SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 7
    """).stripMargin.trim,
    "c_stage_create" -> "SELECT * FROM region",
    "p6_metadata_cols" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, CAST(1 AS BIGINT) AS n_files,
        |  CAST(0 AS BIGINT) AS p0, CAST(count(*) - 1 AS BIGINT) AS p1,
        |  CAST(1 AS BIGINT) AS seq_lo, CAST(1 AS BIGINT) AS seq_hi
        |FROM nation""".stripMargin,
    "ov_dynamic" ->
      """SELECT o_orderkey,
        |  CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) = 2000
        |       THEN 1.0 ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    "ov_replace_all" ->
      "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0",
    "m_snapshots_table" ->
      """SELECT 'append' AS operation,
        |  CAST(count(*) FILTER (WHERE o_orderkey % 10 < 5) AS VARCHAR) AS added_records
        |FROM orders
        |UNION ALL
        |SELECT 'append' AS operation,
        |  CAST(count(*) FILTER (WHERE o_orderkey % 10 >= 5) AS VARCHAR) AS added_records
        |FROM orders
        |ORDER BY added_records""".stripMargin,
    "m_files_rowcount" -> "SELECT count(*) AS total_records FROM orders",
    "sql_delete_update" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN o_totalprice + 10.0 ELSE o_totalprice END), 2) AS revenue
        |FROM orders WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderpriority""".stripMargin,
    "sql_merge" ->
      """WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |    FROM orders WHERE o_orderkey % 2 = 0),
        |  src AS (SELECT o_orderkey, 'X' AS o_orderstatus,
        |      o_totalprice + 1000.0 AS o_totalprice
        |    FROM orders WHERE o_orderkey % 3 = 0),
        |  fin AS (SELECT
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
        |         ELSE t.o_orderstatus END AS st,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
        |         ELSE t.o_totalprice END AS tp
        |  FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
        |SELECT st AS o_orderstatus, count(*) AS n_rows,
        |  round(sum(tp), 2) AS total
        |FROM fin GROUP BY st""".stripMargin,
    "sql_timetravel" ->
      "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10",
    "sql_branch_ddl" ->
      "SELECT s_suppkey, s_name, s_nationkey FROM supplier",
    "q_stats_broadcast" ->
      """SELECT o.o_orderstatus, count(*) AS n_items,
        |  round(sum(l.l_quantity), 2) AS qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_custkey = 37
        |GROUP BY o.o_orderstatus""".stripMargin,
    "q_agg_pushdown" ->
      """SELECT count(*) AS n_rows, count(o_custkey) AS n_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  max(o_orderstatus) AS max_status, min(o_orderdate) AS min_date
        |FROM orders""".stripMargin,
    "q_agg_pushdown_grouped" ->
      """SELECT o_orderstatus, count(*) AS n_rows, count(o_custkey) AS n_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q_agg_pushdown_float" ->
      """SELECT count(*) AS n_rows, min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders""".stripMargin,
    "sql_catalog_defaults" ->
      """SELECT s_suppkey, s_name,
        |  CASE WHEN s_suppkey % 2 = 0 THEN 'STANDARD' ELSE 'BASIC' END AS tier
        |FROM supplier""".stripMargin,
    "sql_catalog_update" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN o_totalprice * 2.0 ELSE o_totalprice END), 2) AS revenue
        |FROM orders WHERE o_orderpriority <> '5-LOW'
        |GROUP BY o_orderpriority""".stripMargin,
    "sql_catalog_merge" ->
      """WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |    FROM orders WHERE o_orderkey % 2 = 0),
        |  src AS (SELECT o_orderkey, 'Y' AS o_orderstatus,
        |      o_totalprice + 500.0 AS o_totalprice
        |    FROM orders WHERE o_orderkey % 3 = 0),
        |  fin AS (SELECT
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
        |         ELSE t.o_orderstatus END AS st,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
        |         ELSE t.o_totalprice END AS tp
        |  FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
        |SELECT st AS o_orderstatus, count(*) AS n_rows,
        |  round(sum(tp), 2) AS total
        |FROM fin GROUP BY st""".stripMargin,
    "m_statistics" ->
      """SELECT 'o_orderstatus' AS column_name, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS ndv FROM orders
        |UNION ALL SELECT 'o_orderpriority', CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_custkey', CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderdate', CAST(count(DISTINCT o_orderdate) AS BIGINT) FROM orders""".stripMargin,
    "m_partition_stats" ->
      """SELECT CAST((year(CAST(o_orderdate AS TIMESTAMP)) - 1970) * 12
        |    + month(CAST(o_orderdate AS TIMESTAMP)) - 1 AS VARCHAR) AS partition,
        |  CAST(count(*) AS BIGINT) AS data_record_count,
        |  CAST(count(*) AS BIGINT) AS total_record_count
        |FROM orders GROUP BY 1""".stripMargin,
    "del_cow" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE NOT (o_orderkey % 7 = 0)""".stripMargin,
    "del_mor_position" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)""".stripMargin,
    "del_mor_equality" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey % 50 = 0)""".stripMargin,
    "del_dv" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE NOT (o_orderstatus = 'O' AND o_orderkey % 5 = 0)""".stripMargin,
    "del_mor_avro" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 4 = 0)
        |  AND o_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey % 97 = 0)""".stripMargin,
    "sql_update_mor" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    "del_metadata_only" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus <> 'F'""".stripMargin,
    "maint_compaction" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
    "maint_zorder" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
        |WHERE l_orderkey < 1000 AND l_partkey < 500""".stripMargin,
    "sql_catalog" ->
      """SELECT r.r_name, count(*) AS n_nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name""".stripMargin,
    "d1_dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS copies FROM documents GROUP BY text",
    "d6_dedup_survivors" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 0)
        |SELECT doc_id FROM u
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""".stripMargin,
    // mirrors Dedup.jaccardExactPairs exactly: same tokenization
    // (lower + \W+ split, empties dropped), same trigram construction
    // (docs under 3 tokens emit none), same integer threshold algebra.
    "d7_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), t -> len(t) > 0) AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM toks WHERE len(w) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS n_common,
        |    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS n_union
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, n_common, n_union FROM pairs
        |WHERE n_common * 5 >= n_union * 4""".stripMargin,
    "d8_jaccard_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), t -> len(t) > 0) AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM toks WHERE len(w) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS n_common,
        |    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS n_union
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |), good AS (
        |  SELECT id_a, id_b FROM pairs WHERE n_common * 5 >= n_union * 4
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM good
        |  UNION ALL
        |  SELECT id_b AS u, id_a AS v FROM good
        |), reach(id, lab) AS (
        |  SELECT DISTINCT u AS id, u AS lab FROM edges
        |  UNION
        |  SELECT e.v AS id, r.lab AS lab FROM reach r JOIN edges e ON e.u = r.id
        |)
        |SELECT id AS doc_id, min(lab) AS cluster_rep,
        |  id = min(lab) AS is_survivor
        |FROM reach GROUP BY id""".stripMargin,
    "d11_cluster_survivors" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), t -> len(t) > 0) AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM toks WHERE len(w) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS n_common,
        |    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS n_union
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |), good AS (
        |  SELECT id_a, id_b FROM pairs WHERE n_common * 5 >= n_union * 4
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM good
        |  UNION ALL
        |  SELECT id_b AS u, id_a AS v FROM good
        |), reach(id, lab) AS (
        |  SELECT DISTINCT u AS id, u AS lab FROM edges
        |  UNION
        |  SELECT e.v AS id, r.lab AS lab FROM reach r JOIN edges e ON e.u = r.id
        |), clusters AS (
        |  SELECT id AS doc_id, min(lab) AS cluster_rep FROM reach GROUP BY id
        |)
        |SELECT c.doc_id, c.cluster_rep,
        |  row_number() OVER (PARTITION BY c.cluster_rep
        |    ORDER BY d.n_chars DESC, c.doc_id ASC) = 1 AS is_survivor
        |FROM clusters c JOIN documents d USING (doc_id)""".stripMargin,
    "x1_token_count" ->
      """SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS n_tokens,
        |  length(text) AS n_chars_calc
        |FROM documents""".stripMargin,
    "x2_quality_score" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS n_tokens,
        |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS punct_ratio,
        |    CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS alpha_ratio,
        |    CAST(len(list_filter(
        |        list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0),
        |        x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by'], x))) AS DOUBLE)
        |      / greatest(len(list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0)), 1) AS stopword_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens, round(punct_ratio, 4) AS punct_ratio,
        |  round(least(greatest(0.3 * least(n_tokens / 50.0, 1.0) + 0.3 * (1.0 - punct_ratio * 4)
        |    + 0.2 * alpha_ratio + 0.2 * least(stopword_ratio * 3, 1.0), 0.0), 1.0), 4) AS quality_score
        |FROM m""".stripMargin,
    "x5_vocab" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    t -> len(t) > 0)) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 200""".stripMargin,
    "d9_containment_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), t -> len(t) > 0) AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM toks WHERE len(w) >= 3
        |)
        |SELECT id_a, id_b, round(ncommon * 1.0 / na, 6) AS containment FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS ncommon, len(a.s) AS na
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id <> b.doc_id)
        |WHERE ncommon * 5 >= na * 4""".stripMargin,
    "d12_substring_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), t -> len(t) > 0) AS w
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+7], ' ') AS s
        |  FROM toks, unnest(range(1, len(w) - 6)) AS u(i)
        |  WHERE len(w) >= 8
        |), flagged AS (
        |  SELECT s FROM wins GROUP BY s HAVING count(DISTINCT doc_id) >= 2
        |), covered AS (
        |  SELECT DISTINCT wins.doc_id, wins.p + o.off AS t
        |  FROM wins JOIN flagged USING (s), unnest(range(0, 8)) AS o(off)
        |), isl AS (
        |  SELECT doc_id, t,
        |    t - row_number() OVER (PARTITION BY doc_id ORDER BY t) AS g
        |  FROM covered
        |)
        |SELECT doc_id, CAST(min(t) AS BIGINT) AS span_start,
        |  CAST(max(t) AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, g""".stripMargin,
    "d13_substring_clean" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), t -> len(t) > 0) AS w
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+7], ' ') AS s
        |  FROM toks, unnest(range(1, len(w) - 6)) AS u(i)
        |  WHERE len(w) >= 8
        |), flagged AS (
        |  SELECT s FROM wins GROUP BY s HAVING count(DISTINCT doc_id) >= 2
        |), covered AS (
        |  SELECT DISTINCT wins.doc_id, wins.p + o.off AS t
        |  FROM wins JOIN flagged USING (s), unnest(range(0, 8)) AS o(off)
        |), cov AS (
        |  SELECT doc_id, list(t) AS cv FROM covered GROUP BY doc_id
        |), sel AS (
        |  SELECT t.doc_id, t.w,
        |    CASE WHEN c.cv IS NULL THEN t.w
        |         ELSE list_filter(t.w, (x, i) -> NOT list_contains(c.cv, i - 1)) END AS kept
        |  FROM toks t LEFT JOIN cov c USING (doc_id))
        |SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS clean_text,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(len(w) - len(kept) AS BIGINT) AS n_dropped
        |FROM sel""".stripMargin,
    "x7_repetition" ->
      """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0) AS l FROM documents),
        |m AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(l) > 0 THEN 1.0 - len(list_distinct(l))*1.0/len(l)
        |         ELSE 0.0 END AS dup_raw FROM t),
        |bg AS (SELECT doc_id, unnest(list_transform(list_zip(l[:len(l)-1], l[2:]),
        |    p -> p[1] || ' ' || p[2])) AS bg FROM t WHERE len(l) >= 2),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c)*1.0/sum(c) AS top_raw FROM bc GROUP BY 1)
        |SELECT m.doc_id, m.n_tokens,
        |  round(m.dup_raw, 6) AS dup_token_ratio,
        |  round(coalesce(top.top_raw, 0.0), 6) AS top_bigram_frac,
        |  (m.dup_raw <= 0.55 AND coalesce(top.top_raw, 0.0) <= 0.05) AS keep
        |FROM m LEFT JOIN top USING (doc_id)""".stripMargin,
    "x8_unigram_nll" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0)) AS t
        |  FROM documents),
        |c AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT sum(c) AS total FROM c)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(avg(-ln(c.c * 1.0 / tot.total)), 6) AS nll
        |FROM tok JOIN c USING (t) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,
    "x15_bigram_nll" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), t -> len(t) > 0) AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)), i -> w[i])) AS a,
        |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
        |  FROM toks WHERE len(w) >= 2),
        |cb AS (SELECT b, count(*) AS cb FROM bg GROUP BY 1),
        |ca AS (SELECT a, count(*) AS ca FROM bg GROUP BY 1),
        |scored AS (
        |  SELECT bg.doc_id, count(*) AS n_bigrams,
        |    round(avg(-ln(cb.cb * 1.0 / ca.ca)), 6) AS bigram_nll
        |  FROM bg JOIN cb USING (b) JOIN ca USING (a)
        |  GROUP BY bg.doc_id)
        |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  coalesce(s.bigram_nll, 0.0) AS bigram_nll
        |FROM documents d LEFT JOIN scored s USING (doc_id)""".stripMargin,
    "x14_redact" ->
      """WITH seeded AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com or call '
        |    || CAST(doc_id * 7919 + 10000000 AS VARCHAR) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{7,}')) AS n_phones,
        |  regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{7,}', '<PHONE>', 'g') AS redacted
        |FROM seeded""".stripMargin,
    "x9_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), t -> len(t) > 0) AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 6),
        |    i -> array_to_string(w[i:i+7], ' '))) AS s
        |  FROM toks WHERE len(w) >= 8),
        |bench AS (SELECT DISTINCT unnest(s) AS gram FROM g WHERE doc_id < 100),
        |corp AS (SELECT doc_id, unnest(s) AS gram FROM g WHERE doc_id >= 100)
        |SELECT corp.doc_id, count(*) AS n_hit_ngrams
        |FROM corp JOIN bench USING (gram)
        |GROUP BY 1""".stripMargin,
    "pipe_corpus" ->
      """WITH q AS (
        |  SELECT * FROM documents
        |  WHERE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> len(x) > 0)) >= 20),
        |d AS (
        |  SELECT * FROM q
        |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        |corp0 AS (SELECT * FROM d WHERE doc_id >= 100),
        |btoks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), t -> len(t) > 0) AS w
        |  FROM documents WHERE doc_id < 100),
        |bench AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(w) - 6),
        |    i -> array_to_string(w[i:i+7], ' ')))) AS gram
        |  FROM btoks WHERE len(w) >= 8),
        |ctoks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), t -> len(t) > 0) AS w
        |  FROM corp0),
        |cgrams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6),
        |    i -> array_to_string(w[i:i+7], ' ')))) AS gram
        |  FROM ctoks WHERE len(w) >= 8),
        |hits AS (SELECT DISTINCT cgrams.doc_id FROM cgrams JOIN bench USING (gram)),
        |clean AS (
        |  SELECT * FROM corp0 WHERE doc_id NOT IN (SELECT doc_id FROM hits))
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM clean GROUP BY 1, 2""".stripMargin,
    "pipe_corpus_full" ->
      s"""WITH qg AS (
        |  SELECT * FROM documents
        |  WHERE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
        |    x -> len(x) > 0)) >= 20),
        |dd AS (
        |  SELECT * FROM qg
        |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        |corp0 AS (SELECT * FROM dd WHERE doc_id >= 100),
        |btoks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\W+'), t -> len(t) > 0) AS w
        |  FROM documents WHERE doc_id < 100),
        |bench AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(w) - 6),
        |    i -> array_to_string(w[i:i+7], ' ')))) AS gram
        |  FROM btoks WHERE len(w) >= 8),
        |ctoks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\W+'), t -> len(t) > 0) AS w
        |  FROM corp0),
        |cgrams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6),
        |    i -> array_to_string(w[i:i+7], ' ')))) AS gram
        |  FROM ctoks WHERE len(w) >= 8),
        |hits AS (SELECT DISTINCT cgrams.doc_id FROM cgrams JOIN bench USING (gram)),
        |clean AS (
        |  SELECT * FROM corp0 WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
        |p AS (SELECT source,
        |    CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 3
        |         WHEN CAST(substr(source, 4) AS INT) < 10 THEN 2
        |         ELSE 1 END AS part,
        |    count(*) AS n
        |  FROM clean GROUP BY source),
        |bgt AS (SELECT min(n // part) AS bb FROM p),
        |qt AS (SELECT source, part * bb AS quota FROM p CROSS JOIN bgt),
        |r AS (SELECT c.doc_id, c.text, c.source, qt.quota,
        |    row_number() OVER (PARTITION BY c.source
        |      ORDER BY ${mixKeySql("c.doc_id")}, c.doc_id) AS rk
        |  FROM clean c JOIN qt USING (source)),
        |mixed AS (SELECT doc_id, text FROM r WHERE rk <= quota),
        |t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\W+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n,
        |    ${mixKeySql("doc_id")} AS key
        |  FROM mixed),
        |k AS (SELECT doc_id, n, key, key % 4 AS shard FROM t WHERE n > 0),
        |cp AS (SELECT doc_id, n, shard,
        |    CAST(sum(n) OVER (PARTITION BY shard ORDER BY key, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
        |  FROM k),
        |sg AS (SELECT doc_id, shard, e - n AS st, e FROM cp),
        |x AS (SELECT doc_id, shard, st, e,
        |    unnest(range(st // 256, (e - 1) // 256 + 1)) AS win FROM sg)
        |SELECT shard, CAST(count(DISTINCT win) AS BIGINT) AS n_windows,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(least(e, (win + 1) * 256) - greatest(st, win * 256)) AS BIGINT)
        |    AS sum_tokens
        |FROM x GROUP BY shard""".stripMargin,
    "x10_source_mix" ->
      s"""WITH p AS (SELECT source,
        |    CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 3
        |         WHEN CAST(substr(source, 4) AS INT) < 10 THEN 2
        |         ELSE 1 END AS part,
        |    count(*) AS n
        |  FROM documents GROUP BY source),
        |b AS (SELECT min(n // part) AS bb FROM p),
        |q AS (SELECT source, part * bb AS quota FROM p CROSS JOIN b),
        |r AS (SELECT d.source, d.doc_id, q.quota,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY ${mixKeySql("d.doc_id")}, d.doc_id) AS rk
        |  FROM documents d JOIN q USING (source))
        |SELECT source, doc_id FROM r WHERE rk <= quota""".stripMargin,
    "x12_pack_windows" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\W+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n,
        |    ${mixKeySql("doc_id")} AS key
        |  FROM documents),
        |k AS (SELECT doc_id, n, key, key % 4 AS shard FROM t WHERE n > 0),
        |c AS (SELECT doc_id, n, shard,
        |    CAST(sum(n) OVER (PARTITION BY shard ORDER BY key, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
        |  FROM k),
        |s AS (SELECT doc_id, shard, e - n AS st, e FROM c),
        |x AS (SELECT doc_id, shard, st, e,
        |    unnest(range(st // 256, (e - 1) // 256 + 1)) AS win FROM s)
        |SELECT shard, win, doc_id,
        |  greatest(st, win * 256) - win * 256 AS win_offset,
        |  least(e, (win + 1) * 256) - greatest(st, win * 256) AS n_tokens
        |FROM x""".stripMargin,
    "x11_shard_assign" ->
      s"""WITH k AS (SELECT doc_id,
        |    ${mixKeySql("doc_id")} AS key
        |  FROM documents)
        |SELECT key % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) AS BIGINT) AS pos,
        |  doc_id
        |FROM k""".stripMargin,
    "x6_stratified_sample" ->
      s"""SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ${mixKeySql("doc_id")}, doc_id) AS rk
        |  FROM documents) WHERE rk <= 10""".stripMargin,
    "mm1_media_meta" ->
      "SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes FROM documents",
    // closed-form recompute of the decoded-image band-0 feature: DuckDB
    // never decodes the PNG — it rebuilds the pixel formula and pools,
    // independently confirming the javax.imageio decode in the engine
    "mm2_features" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id // 7) % 24 AS h
        |  FROM documents WHERE doc_id < 20000),
        |px AS (
        |  SELECT doc_id, w, h, y.y, x.x,
        |    (x.x*7 + y.y*13 + doc_id*31) % 256 AS lum
        |  FROM dims, LATERAL (SELECT unnest(range(0, w)) AS x) x,
        |             LATERAL (SELECT unnest(range(0, h)) AS y) y)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  round(CAST(sum(lum) AS DOUBLE) / count(*), 4) AS f0
        |FROM px WHERE (y*8)//h = 0 GROUP BY 1,2,3""".stripMargin,
    // closed-form recompute of the resized band-0 feature: resized pixel
    // (X,Y) of the 64x64 output samples source pixel (X*w//64, Y*h//64)
    // of the synthetic image, whose luminance is the arithmetic formula
    // — DuckDB never sees a PNG byte on either side of the resample
    "mm3_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id // 7) % 24 AS h
        |  FROM documents WHERE doc_id < 20000),
        |px AS (
        |  SELECT doc_id, y.y AS Y,
        |    (((x.x * w) // 64) * 7 + ((y.y * h) // 64) * 13 + doc_id * 31) % 256 AS lum
        |  FROM dims, LATERAL (SELECT unnest(range(0, 64)) AS x) x,
        |             LATERAL (SELECT unnest(range(0, 64)) AS y) y)
        |SELECT doc_id, CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
        |  round(CAST(sum(lum) AS DOUBLE) / count(*), 4) AS f0
        |FROM px WHERE Y < 8 GROUP BY 1""".stripMargin,
    // closed-form recompute of the decoded WAV's window-0 mean absolute
    // amplitude: PCM is lossless and the sums are exact integers, so
    // DuckDB rebuilds the sample formula and pools — no WAV byte parsed
    "mm5_audio" ->
      """WITH dims AS (
        |  SELECT doc_id, 2000 + doc_id % 1000 AS n
        |  FROM documents WHERE doc_id < 20000),
        |px AS (
        |  SELECT doc_id, n,
        |    abs(((doc_id * 31 + k.k * 7) % 65536) - 32768) AS a
        |  FROM dims, LATERAL (SELECT unnest(range(0, n)) AS k) k
        |  WHERE (k.k * 8) // n = 0)
        |SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  round(CAST(sum(a) AS DOUBLE) / count(*), 4) AS f0
        |FROM px GROUP BY doc_id, n""".stripMargin,
    // closed-form recompute of each SAMPLED frame's band-0 pooled
    // luminance (frames 0,2,4,6 of the 8-frame GIF)
    "mm4_frames" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id // 7) % 24 AS h
        |  FROM documents WHERE doc_id < 20000),
        |fr AS (
        |  SELECT doc_id, w, h, k.k AS frame_idx
        |  FROM dims, LATERAL (SELECT unnest(range(0, 8, 2)) AS k) k),
        |px AS (
        |  SELECT doc_id, frame_idx, w, h, y.y AS Y,
        |    (x.x * 7 + y.y * 13 + doc_id * 31 + frame_idx * 17) % 256 AS lum
        |  FROM fr, LATERAL (SELECT unnest(range(0, w)) AS x) x,
        |           LATERAL (SELECT unnest(range(0, h)) AS y) y)
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  round(CAST(sum(lum) AS DOUBLE) / count(*), 4) AS f0
        |FROM px WHERE (Y * 8) // h = 0 GROUP BY 1, 2, 3, 4""".stripMargin,
    "e1_knn_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5)
        |SELECT query_id, vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY list_cosine_similarity(embedding, qv) DESC, vec_id) AS rank
        |FROM embeddings, q WHERE vec_id <> query_id
        |QUALIFY rank <= 5""".stripMargin,
    "ev_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        | s AS (SELECT user_id, event_id, ts, value,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |        OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_s
        |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | t AS (SELECT user_id, ts, value,
        |   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |   FROM s)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, count(*) AS n_events,
        |  date_diff('second', min(ts), max(ts)) AS duration_s,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_value_cents
        |FROM t GROUP BY user_id, session_seq""".stripMargin,
    "ev_hourly_counts" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // langId replicated: token stopword hits per language, argmax with
    // the lexicographically-largest language winning ties (greatest on
    // (score, lang) structs in Spark), CJK-ratio shortcut for zh
    "x3_lang_id" ->
      """WITH t AS (
        |  SELECT lang,
        |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> len(x) > 0) AS toks,
        |    CAST(length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS cjk
        |  FROM documents),
        | sc AS (
        |  SELECT lang, cjk,
        |    len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for','with','was','on','are'], x))) AS s_en,
        |    len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','un','una','los','las','por','con','para','es'], x))) AS s_es,
        |    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','von','mit','den','im','für','auf','des','ein','eine'], x))) AS s_de,
        |    len(list_filter(toks, x -> list_contains(['le','la','les','de','des','et','un','une','du','est','pour','que','dans','sur'], x))) AS s_fr
        |  FROM t),
        | p AS (
        |  SELECT lang,
        |    CASE WHEN cjk > 0.05 THEN 'zh'
        |         WHEN greatest(s_en, s_es, s_de, s_fr) > 0 THEN
        |           CASE WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) THEN 'fr'
        |                WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
        |                WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
        |                ELSE 'de' END
        |         ELSE 'und' END AS predicted
        |  FROM sc)
        |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1, 2""".stripMargin,
    "st_hourly_stream" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "st_dedup_stream" ->
      "SELECT CAST(count(DISTINCT (user_id, event_type)) AS BIGINT) AS n_keys FROM events",
    "st_ingest_table" ->
      "SELECT event_id, user_id, event_type, value FROM events",
    "st_upsert_table" ->
      "SELECT event_id, user_id, event_type, value FROM events",
    "st_follow_table" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "st_rate_limit" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    // the drained cdc stream + changelog pairing == the batch changelog:
    // initial append inserts, update pre/post images for every 10th key
    // (MoR merge), plain inserts for the shifted new keys
    "st_cdc_follow" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
        |  'insert' AS _change_type
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2),
        |  'update_preimage'
        |FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, round(o_totalprice + 500, 2),
        |  'update_postimage'
        |FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL
        |SELECT o_orderkey + 1000000000, o_orderstatus, round(o_totalprice, 2),
        |  'insert'
        |FROM orders WHERE o_orderkey % 100 = 7""".stripMargin,
    "st_skip_nonappend" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "st_interval_join" ->
      """SELECT a.user_id, a.event_id AS e1, b.event_id AS e2
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 15 MINUTE
        |WHERE a.user_id % 5 = 0 AND b.user_id % 5 = 0""".stripMargin,
    "q_range_join" ->
      """SELECT l.user_id, l.event_id, r.event_id AS window_id
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND r.event_type = 'error' AND l.event_type <> 'error'
        | AND l.ts >= r.ts AND l.ts < r.ts + INTERVAL 2 HOUR""".stripMargin,
    "x13_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\W+'), t -> len(t) > 0)) AS term
        |  FROM documents),
        | tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        | n AS (SELECT count(*) AS n FROM documents),
        | scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, rnk, tf, round(score, 6) AS score FROM (
        |  SELECT doc_id, term, tf, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5""".stripMargin,
    "q_asof_join" ->
      """WITH l AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
        |           FROM events WHERE event_id % 2 = 1),
        | r AS (SELECT user_id, ts, event_id AS matched_id,
        |              round(value, 2) AS matched_value
        |       FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
        |               row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
        |                 ORDER BY event_id DESC) AS rn
        |             FROM events WHERE event_id % 2 = 0)
        |       WHERE rn = 1)
        |SELECT l.event_id, l.user_id, r.matched_id, r.matched_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    // the handler works on Timestamp.getTime -> millisecond precision
    "st_mgws_sessions" ->
      """WITH e AS (SELECT user_id, event_id,
        |    date_trunc('milliseconds', CAST(ts AS TIMESTAMP)) AS ts FROM events),
        | s AS (SELECT user_id, event_id, ts,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |        OR date_diff('millisecond', lag(ts) OVER w, ts) > 1800000 THEN 1 ELSE 0 END AS new_s
        |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | t AS (SELECT user_id, ts,
        |   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |   FROM s),
        | sess AS (SELECT user_id, session_seq, min(ts) AS session_start,
        |   CAST(count(*) AS BIGINT) AS n_events FROM t GROUP BY 1, 2)
        |SELECT user_id, session_start, n_events FROM sess
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY session_seq DESC) = 1""".stripMargin,
    // session_window semantics: a new session starts when ts >= prev + gap
    // (strict > in ev_sessionize vs >= here — sub-second timestamps make
    // exact-1800s gaps a measure-zero case, and the tie-break fixes order)
    "st_session_stream" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        | s AS (SELECT user_id, event_id, ts, cents,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |        OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | t AS (SELECT user_id, ts, cents,
        |   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |   FROM s)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS total_value_cents
        |FROM t GROUP BY user_id, session_seq""".stripMargin,
    "spj_join" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN (SELECT l_orderkey AS o_orderkey, count(*) AS n_items
        |      FROM lineitem GROUP BY 1) USING (o_orderkey)
        |GROUP BY o_orderstatus""".stripMargin,
    "q_topn_pushdown" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders ORDER BY o_orderkey DESC LIMIT 10""".stripMargin,
    "spj_sorted_join" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_items) AS BIGINT) AS total_items
        |FROM orders
        |JOIN (SELECT l_orderkey AS o_orderkey, count(*) AS n_items
        |      FROM lineitem GROUP BY 1) USING (o_orderkey)
        |GROUP BY o_orderstatus""".stripMargin,
    "proc_rollback" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders"
  ) ++
    // hash-defined operators (murmur3 seed-0 / xxhash64 / random-projection
    // families DuckDB cannot recompute) are oracled with golden VALUES
    // tables pinned from the (verified deterministic) engine output at the
    // driver's correctness scale factor — see GoldenOracles
    GoldenOracles.sql
}

/** The driver's shared tables, one def per table (or per group of tables
  * one query family reads together). Each is built once per warehouse
  * through `Tables.fixture`/`Tables.ensure`, so a build that fails, its
  * gates included, leaves no table behind; the defs that wrap it in
  * `Tables.once`/`Tables.tpch` also memoise it per JVM. */
object Fixtures {
  import graft.ice._
  import graft.ice.catalog._
  import graft.ice.meta.{PartitionField, PartitionSpec, SortField, SortOrder}
  import graft.ice.transform.{BucketTransform, IdentityTransform, MonthTransform,
    YearTransform}
  import graft.ice.types.{BooleanT, IntT, LongT, SparkConv, StringT}

  /** Two-snapshot fixture: snapshot 1 = orders with o_orderkey%10<5 (tagged
    * "v1"), snapshot 2 adds the rest. Deterministic, so the oracle can
    * reproduce snapshot 1 with a WHERE clause. */
  def timeTravel(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_tt") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      val s1 = t.append(spark).appendDataFrame(raw.filter("o_orderkey % 10 < 5"))
      t.manageSnapshots().createTag("v1", s1.snapshotId)
      t.append(spark).appendDataFrame(raw.filter("o_orderkey % 10 >= 5"))
      t
    }

  // V2-connector queries: two tables CO-BUCKETED on the join key
  // (spj_join), and a table whose history is manipulated through CALL
  // procedures (proc_rollback).

  private def mkBucketed(spark: SparkSession, sfDir: String, name: String,
      df: DataFrame, buckets: Int, sortByKey: Boolean = false): Unit = {
    val cat = Tables.catalog(sfDir)
    val ident = TableIdentifier(Seq("tpch"), name)
    Tables.ensure(cat, ident) {
      val schema = SparkConv.fromSpark(df.schema)
      val key = schema.findFieldByName("o_orderkey").get.id
      val spec = PartitionSpec(0, IndexedSeq(
        PartitionField(key, 1000, "o_orderkey_bucket", BucketTransform(buckets))))
      val order =
        if (sortByKey) graft.ice.meta.SortOrder(1, IndexedSeq(
          graft.ice.meta.SortField(key, graft.ice.transform.IdentityTransform,
            ascending = true, nullsFirst = true)))
        else graft.ice.meta.SortOrder.unsorted
      IceTable.create(cat, ident, schema, spec, order)
        .append(spark).appendDataFrame(df)
    }
  }

  def spjTables(spark: SparkSession, sfDir: String): Unit =
    Tables.once(s"$sfDir/spj") {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val lineups = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_items"))
      mkBucketed(spark, sfDir, "spj_orders", orders, 8)
      mkBucketed(spark, sfDir, "spj_lineups", lineups, 8)
    }

  /** Same co-bucketed pair but with a DECLARED key sort order: the
    * write path sorts each file, manifests stamp sort_order_id, and the
    * scan reports per-split ordering — zero-exchange AND zero-sort SMJ. */
  def spjSortedTables(spark: SparkSession, sfDir: String): Unit =
    Tables.once(s"$sfDir/spjsorted") {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val lineups = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_items"))
      mkBucketed(spark, sfDir, "spjs_orders", orders, 8, sortByKey = true)
      mkBucketed(spark, sfDir, "spjs_lineups", lineups, 8, sortByKey = true)
    }

  def procTable(spark: SparkSession, sfDir: String): IceTable = {
    val cat = Tables.catalog(sfDir)
    val ident = TableIdentifier(Seq("tpch"), "proc_orders")
    Tables.once(s"$sfDir/tpch.proc_orders") {
      Tables.ensure(cat, ident) {
        val df = spark.read.parquet(s"$sfDir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        val t = IceTable.create(cat, ident, SparkConv.fromSpark(df.schema))
        t.append(spark).appendDataFrame(df)
        val keep = t.currentSnapshot.get.snapshotId
        // grow, then roll the growth back and expire it via CALL — the
        // surviving table must equal the first append exactly
        t.append(spark).appendDataFrame(df.limit(100))
        spark.conf.set("spark.sql.catalog.ice",
          "graft.ice.connector.GraftCatalogPlugin")
        spark.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(sfDir))
        spark.sql(s"CALL ice.system.rollback_to_snapshot('tpch.proc_orders', $keep)")
        // explicit older_than_ms: a bare CALL now defaults to now-5d
        // (near-no-op maintenance), and this fixture WANTS the rolled-back
        // history gone
        spark.sql("CALL ice.system.expire_snapshots('tpch.proc_orders', " +
          s"older_than_ms => ${System.currentTimeMillis()}, retain_last => 1)")
      }
    }
    IceTable.load(cat, ident)
  }

  /** Streaming-ingest fixture: events streamed (readStream, AvailableNow)
    * into a fresh Iceberg-format table via StreamOps.appendStream — the
    * transactional foreachBatch sink with batch-id idempotence. */
  def streamIngest(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "events_ingested") { (cat, ident) =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
      val stream = spark.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
        .select("event_id", "user_id", "event_type", "value")
      val t = IceTable.create(cat, ident,
        SparkConv.fromSpark(stream.schema))
      val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt").toString
      val q = graft.streaming.StreamOps.appendStream(stream, t, ckpt)
      // a timed-out ingest must NOT persist a truncated table that every
      // later run would silently reuse (the failed build drops it)
      if (!q.awaitTermination(120000)) {
        try q.stop() catch { case _: Throwable => () }
        throw new IllegalStateException(
          "st_ingest_table fixture: streaming ingest did not finish in 120s")
      }
      t.refresh()
      t
    }

  /** Streaming-upsert fixture: the table is seeded with a CORRUPTED subset
    * (every third event carries value = -1), then the full event stream is
    * upserted through StreamOps.upsertStream (merge-on-read MERGE per
    * micro-batch, exactly-once marker inside each merge commit). The final
    * table must equal the raw events — every seeded row updated back,
    * every other row inserted — which makes the oracle a plain SELECT. */
  def streamUpsert(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "events_upserted") { (cat, ident) =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
        .select("event_id", "user_id", "event_type", "value")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      t.append(spark).appendDataFrame(
        raw.filter(col("event_id") % 3 === 0).withColumn("value", lit(-1.0)))
      val stream = spark.readStream.schema(
        spark.read.parquet(s"$sfDir/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
        .select("event_id", "user_id", "event_type", "value")
      val ckpt = java.nio.file.Files.createTempDirectory("upsert_ckpt").toString
      val q = graft.streaming.StreamOps.upsertStream(stream, t, Seq("event_id"), ckpt)
      // merge-per-batch does strictly more than append-per-batch; give
      // the 10x/30x scale fixtures headroom
      if (!q.awaitTermination(300000)) {
        try q.stop() catch { case _: Throwable => () }
        throw new IllegalStateException(
          "st_upsert_table fixture: streaming upsert did not finish in 300s")
      }
      t.refresh()
      // the maintenance step that makes per-batch MoR merging viable
      // long-term: collapse the accumulated per-batch delete files
      // (semantic no-op — the oracle stays a plain SELECT)
      t.compact(spark).rewritePositionDeletes()
      t
    }

  /** Rollback fixture: two appends, then main rolled back to the first
    * snapshot — a plain scan must see only the first append while the
    * second snapshot stays addressable by id until expiry. */
  def rollback(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_rollback") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      val s1 = t.append(spark).appendDataFrame(raw.filter("o_orderkey % 10 < 5"))
      t.append(spark).appendDataFrame(raw.filter("o_orderkey % 10 >= 5"))
      t.manageSnapshots().rollbackTo(s1.snapshotId)
      t
    }

  /** Schema-evolution fixture: nation appended under original names, then
    * n_name renamed and n_nationkey promoted to long — old files must
    * resolve by field id. */
  def evolution(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "nation_evolved") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "nation")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      t.append(spark).appendDataFrame(raw)
      t.updateSchema()
        .renameColumn("n_name", "nation_name")
        .updateColumnType("n_nationkey", LongT)
        .commit()
      t
    }

  /** v3 default-values fixture: supplier split in two appends around an
    * ADD COLUMN with defaults. Batch 1 (even s_suppkey) predates the
    * columns — its files physically lack them and the SCAN injects each
    * initial-default (proven absent via manifest valueCounts, zero file
    * reads). Batch 2 (odd) is appended without the columns — the WRITER
    * materializes each write-default. The reference declares the JSON keys
    * (json_internal.cc:78-79) but implements neither serde nor semantics. */
  def defaults(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "supplier_defaults") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "supplier")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      t.append(spark).appendDataFrame(raw.filter("s_suppkey % 2 = 0"))
      t.updateSchema()
        .addColumnWithDefault("s_tier", StringT,
          initialDefault = Some("STANDARD"), writeDefault = Some("BASIC"))
        .addColumnWithDefault("s_score", IntT,
          initialDefault = Some(7), writeDefault = Some(42))
        .addRequiredColumn("s_flag", BooleanT, initialDefault = true)
        .commit()
      // reload so the append below sees the evolved schema
      val t2 = IceTable.load(cat, ident)
      t2.append(spark).appendDataFrame(raw.filter("s_suppkey % 2 = 1"))
      t2
    }

  // Delete fixtures: orders tables, each with a deterministic delete
  // applied through a different mechanism (CoW rewrite, MoR position, MoR
  // equality, deletion vectors).

  private def deleted(spark: SparkSession, sfDir: String, name: String)
      (setup: (IceTable, DataFrame) => Unit): IceTable =
    Tables.tpch(sfDir, name) { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      t.append(spark).appendDataFrame(raw)
      setup(t, raw)
      t
    }

  def delCow(spark: SparkSession, sfDir: String): IceTable =
    deleted(spark, sfDir, "orders_del_cow") { (t, _) =>
      t.delete(spark).deleteWhere(E.raw("o_orderkey % 7 = 0"))
    }

  def delMorPos(spark: SparkSession, sfDir: String): IceTable =
    deleted(spark, sfDir, "orders_del_pos") { (t, _) =>
      t.delete(spark).deleteWherePositional(
        E.equal("o_orderstatus", graft.ice.types.Literal.string("F"))
          .and(E.raw("o_orderkey % 3 = 0")))
    }

  /** v3 deletion vectors: roaring bitmaps in a puffin file, one vector
    * per touched data file (exceeds the reference, which cannot execute
    * any delete — table_scan.cc:288-291). */
  def delMorDV(spark: SparkSession, sfDir: String): IceTable =
    deleted(spark, sfDir, "orders_del_dv") { (t, _) =>
      t.upgradeFormatVersion(3)
      t.delete(spark).deleteWhereDV(
        E.equal("o_orderstatus", graft.ice.types.Literal.string("O"))
          .and(E.raw("o_orderkey % 5 = 0")))
    }

  def delMorEq(spark: SparkSession, sfDir: String): IceTable =
    deleted(spark, sfDir, "orders_del_eq") { (t, raw) =>
      val keys = raw.filter("o_custkey % 50 = 0").select("o_custkey").distinct()
      t.delete(spark).deleteByEquality(keys)
    }

  /** `write.delete.format.default=avro` (reference table_properties.h:
    * 106): the delete plane — position AND equality files — lands as
    * avro containers dispatched through FormatRegistry; the scan reads
    * them back format-blind. The build gate pins that the files really
    * are avro, so the query can never silently test parquet deletes. */
  def delMorAvro(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_del_avro") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema),
        properties = Map("write.delete.mode" -> "merge-on-read",
          "write.delete.format.default" -> "avro"))
      t.append(spark).appendDataFrame(raw)
      t.delete(spark).deleteWherePositional(
        E.equal("o_orderstatus", graft.ice.types.Literal.string("F"))
          .and(E.raw("o_orderkey % 4 = 0")))
      t.delete(spark).deleteByEquality(
        raw.filter("o_custkey % 97 = 0").select("o_custkey").distinct())
      val dels = t.planDeleteEntries(t.currentSnapshot.get)
      require(dels.nonEmpty && dels.forall(_.dataFile.fileFormat == "AVRO"),
        "del_mor_avro fixture must carry an all-avro delete plane")
      t
    }

  /** `write.update.mode=merge-on-read` (reference table_properties.h,
    * the third mode twin): the SQL rule path supersedes matching rows
    * with position deletes and re-appends them updated. The build gate
    * pins the MoR contract — every pre-update data file still live
    * (nothing rewritten), a delete plane present. */
  def updateMor(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_upd_mor") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema),
        properties = Map("write.update.mode" -> "merge-on-read"))
      t.append(spark).appendDataFrame(raw)
      val before = t.newScan().planFiles().map(_.file.filePath).toSet
      spark.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      spark.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(sfDir))
      spark.sql("UPDATE ice.tpch.orders_upd_mor " +
        "SET o_totalprice = o_totalprice * 2 WHERE o_orderkey % 10 = 0")
      val t2 = IceTable.load(cat, ident)
      val after = t2.newScan().planFiles().map(_.file.filePath).toSet
      require(before.subsetOf(after) && (after -- before).nonEmpty,
        "merge-on-read UPDATE must append, never rewrite, data files")
      require(t2.currentSnapshot.exists(s =>
        t2.planDeleteEntries(s).nonEmpty),
        "merge-on-read UPDATE must write a delete plane")
      t2
    }

  /** Partition-aligned CoW delete: on a status-partitioned table the 'F'
    * partition drops as PURE METADATA — the strict evaluator proves every
    * row of those files matches, so no data file is opened or written.
    * The gate requires exactly that split (metadata drops > 0, rewrites
    * == 0) at build time. */
  def delMetadataOnly(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_del_md") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val schema = SparkConv.fromSpark(raw.schema)
      val spec = graft.ice.meta.PartitionSpec(0, IndexedSeq(
        graft.ice.meta.PartitionField(
          schema.findFieldByName("o_orderstatus").get.id, 1000,
          "status", graft.ice.transform.IdentityTransform)))
      val t = IceTable.create(cat, ident, schema, spec)
      t.append(spark).appendDataFrame(raw)
      t.delete(spark).deleteWhere(
        E.equal("o_orderstatus", graft.ice.types.Literal.string("F")))
      require(graft.ice.write.RowDeleteStats.lastMetadataDropped > 0,
        "status-aligned delete must drop whole files from metadata")
      require(graft.ice.write.RowDeleteStats.lastRewritten == 0,
        "status-aligned delete must not rewrite any data file")
      t
    }

  /** Spec-evolution fixture: even orderkeys appended under a YEAR spec,
    * the spec evolved to MONTH, odd orderkeys appended under it — content
    * equals plain orders, files span two partition specs. */
  def specEvolution(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_specevo") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val schema = SparkConv.fromSpark(raw.schema)
      val od = schema.findFieldByName("o_orderdate").get.id
      val t = IceTable.create(cat, ident, schema, PartitionSpec(0,
        IndexedSeq(PartitionField(od, 1000, "order_year", YearTransform))))
      t.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 0"))
      t.updateSpec().addField("order_month", "o_orderdate", MonthTransform).commit()
      t.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 1"))
      t
    }

  /** Snapshot-expiry fixture: orders in 3 appends, then everything but the
    * newest snapshot expired — content equals plain orders, history is 1. */
  def expire(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_expired") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      for (i <- 0 until 3)
        t.append(spark).appendDataFrame(raw.filter(s"o_orderkey % 3 = $i"))
      t.manageSnapshots().expireSnapshots(
        System.currentTimeMillis() + 3600_000L, retainLast = 1)
      t
    }

  /** write.metadata.compression-codec=gzip fixture: a supplier table whose
    * every metadata JSON (create + two appends, so the metadata-log and
    * snapshot history exist too) is written gzip'd. Readers sniff the
    * magic bytes (TableMetadataIO.read; reference table_metadata.cc codec
    * sniff), so the scan stack is untouched. */
  def gzipMetadata(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "supplier_gz") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "supplier")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema),
        properties = Map("write.metadata.compression-codec" -> "gzip"))
      t.append(spark).appendDataFrame(raw.filter("s_suppkey % 2 = 0"))
      t.append(spark).appendDataFrame(raw.filter("s_suppkey % 2 = 1"))
      t
    }

  // Round-15 declared-write-property fixtures (reference
  // table_properties.h:111-235): parquet tuning knobs, per-column metrics
  // modes, object-store layout, a mid-life `write.data.path` move, and
  // per-partition commit summaries — each exercised end-to-end through a
  // real table and an oracled scan.

  /** gzip codec + 64 KiB row groups + 16 KiB pages: footer-assertable
    * and DuckDB-readable (the oracle reads the SOURCE parquet; this
    * table must scan value-identically through the graft stack). */
  def tuned(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "part_tuned") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "part")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema),
        properties = Map(
          "write.parquet.compression-codec" -> "gzip",
          "write.parquet.row-group-size-bytes" -> "65536",
          "write.parquet.page-size-bytes" -> "16384"))
      t.append(spark).appendDataFrame(raw)
      t
    }

  /** `read.parquet.vectorization.{enabled,batch-size}` fixture
    * (reference table_properties.h:197-200): a non-default 1111-row
    * batch reaches the vectorized parquet reader on every scan of this
    * table (conf-threading pinned in PropertyTailSpec); the scan must
    * stay value-identical — batch shape can never change results. */
  def vectorized(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "customer_vectorized") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "customer")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema),
        properties = Map(
          "read.parquet.vectorization.enabled" -> "true",
          "read.parquet.vectorization.batch-size" -> "1111"))
      t.append(spark).appendDataFrame(raw)
      t
    }

  /** `write.upsert.enabled` fixture (reference table_properties.h:271):
    * the table-level default routes plain appends through the keyed MoR
    * upsert — the second append supersedes every 10th order (tripled
    * totalprice) and inserts nothing new, with NO data file rewritten.
    * Duplicate-key semantics pinned vs st_upsert_table: batch-internal
    * key uniqueness is the caller's contract (MERGE cardinality guard),
    * cross-commit duplicates are impossible by construction. */
  def upsertDefault(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_upsert_default") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val schema0 = SparkConv.fromSpark(raw.schema)
      val schema = schema0.copy(identifierFieldIds =
        Seq(schema0.findFieldByName("o_orderkey").get.id))
      val t = IceTable.create(cat, ident, schema,
        properties = Map("write.upsert.enabled" -> "true"))
      t.append(spark).appendDataFrame(raw)
      val before = t.newScan().planFiles().map(_.file.filePath).toSet
      t.append(spark).appendDataFrame(
        raw.filter("o_orderkey % 10 = 0")
          .withColumn("o_totalprice", col("o_totalprice") * 3))
      val after = t.newScan().planFiles().map(_.file.filePath).toSet
      require(before.subsetOf(after),
        "upsert default must supersede via the MoR delete plane, " +
          "never rewrite the seed files")
      require(t.planDeleteEntries(t.currentSnapshot.get).nonEmpty,
        "upsert default left no delete plane")
      t
    }

  /** read.split.* fixture: the raw lineitem parquet IMPORTED whole
    * (addFiles, no rewrite) — the oversized-imported-file shape split
    * planning exists for, scaled down. A 256 KiB target makes the V2
    * scan cut the single file into ranged sub-splits; open-file-cost
    * keeps any tiny tail ranges from over-packing. */
  def splitRead(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "lineitem_bigfile") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "lineitem")
      // target scaled to ~24 ranged splits of the imported file at ANY
      // sf (a fixed tiny target would mean 24k scheduler-bound tasks
      // for a 6 GB sf30 file — the opposite of what splitting is for)
      val srcBytes = java.nio.file.Files.size(
        java.nio.file.Paths.get(s"$sfDir/lineitem.parquet"))
      val target = math.max(1L * 1024 * 1024, srcBytes / 24)
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema),
        properties = Map(
          "read.split.target-size" -> target.toString,
          "read.split.open-file-cost" -> math.max(65536L, target / 4).toString))
      t.append(spark).addFiles(Seq(s"$sfDir/lineitem.parquet"))
      t
    }

  /** Metrics modes: default `counts` (no bounds), c_name `truncate(4)`,
    * c_acctbal `full`. MIN/MAX/COUNT over these columns exercises the
    * refusal matrix — counts-mode min/max and short-width exactness must
    * refuse the metadata answer and fall back to a real scan, still
    * matching the oracle. */
  def metricsModes(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "customer_metrics") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "customer")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema),
        properties = Map(
          "write.metadata.metrics.default" -> "counts",
          "write.metadata.metrics.column.c_name" -> "truncate(4)",
          "write.metadata.metrics.column.c_acctbal" -> "full"))
      t.append(spark).appendDataFrame(raw)
      t
    }

  /** Object-store layout over a month-partitioned orders table: every
    * data file lands under 4x4-bit hash-prefix dirs; partition tuples
    * ride the manifests, scans/plans never list directories. */
  def objectStore(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_objstore") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val schema = SparkConv.fromSpark(raw.schema)
      val od = schema.findFieldByName("o_orderdate").get.id
      val spec = PartitionSpec(0, IndexedSeq(
        PartitionField(od, 1000, "order_month", MonthTransform)))
      val t = IceTable.create(cat, ident, schema, spec,
        properties = Map("write.object-storage.enabled" -> "true"))
      t.append(spark).appendDataFrame(raw)
      t
    }

  /** Mid-life `write.data.path` move: first append under the default
    * `{location}/data`, the second under an external root — both keep
    * resolving (absolute manifest paths), id-resolution fast path covers
    * both roots (IceTable.dataRoots). */
  def dataPathMove(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "supplier_datapath") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "supplier")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      t.append(spark).appendDataFrame(raw.filter("s_suppkey % 2 = 0"))
      val extRoot = s"${Tables.warehouseDir(sfDir)}/external_data/supplier_ext"
      t.commit(m => m.copy(properties =
        m.properties + ("write.data.path" -> extRoot)))
      t.append(spark).appendDataFrame(raw.filter("s_suppkey % 2 = 1"))
      t
    }

  /** `write.summary.partition-limit`: an order-priority-partitioned
    * append whose snapshot summary carries one `partitions.<pri=...>`
    * churn entry per partition (5 priorities, limit 10). */
  def partitionSummary(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_psummary") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val schema = SparkConv.fromSpark(raw.schema)
      val op = schema.findFieldByName("o_orderpriority").get.id
      val spec = PartitionSpec(0, IndexedSeq(
        PartitionField(op, 1000, "pri", IdentityTransform)))
      val t = IceTable.create(cat, ident, schema, spec,
        properties = Map("write.summary.partition-limit" -> "10"))
      t.append(spark).appendDataFrame(raw)
      t
    }

  /** addFiles fixture: the RAW testdata parquet registered as a data file —
    * no rewrite, no field ids, name-resolved on read. */
  def addFiles(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "nation_addfiles") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "nation")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      t.append(spark).addFiles(Seq(s"$sfDir/nation.parquet"))
      t
    }

  // S16 fixtures: tables whose data files are AVRO — one registered
  // externally (FormatRegistry avro writer + addFiles(format=AVRO)), one
  // written by the engine itself via write.format.default=avro. Both scan
  // back through the connector's per-split format dispatch.

  def avroAdded(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "region_avro") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "region")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      val files = FormatRegistry.writer("AVRO")(raw, s"${t.location}/data")
      t.append(spark).addFiles(files, format = "AVRO")
      t
    }

  def avroWritten(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "supplier_avrowrite") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "supplier")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema),
        properties = Map("write.format.default" -> "avro"))
      t.append(spark).appendDataFrame(raw)
      t
    }

  // S16 third format: ORC data files registered and engine-written
  // (exceeds the reference, where ORC is an enum value with no reader,
  // file_format.h:34-40).

  def orcAdded(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "nation_orc") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "nation")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      val files = FormatRegistry.writer("ORC")(raw, s"${t.location}/data")
      t.append(spark).addFiles(files, format = "ORC")
      t
    }

  def orcWritten(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "part_orcwrite") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "part")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema),
        properties = Map("write.format.default" -> "orc"))
      t.append(spark).appendDataFrame(raw)
      t
    }

  /** Dynamic partition overwrite: year 2000 rewritten with
    * o_totalprice=1.0. */
  def dynamicOverwrite(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_dynov") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val schema = SparkConv.fromSpark(raw.schema)
      val od = schema.findFieldByName("o_orderdate").get.id
      val spec = PartitionSpec(0, IndexedSeq(
        PartitionField(od, 1000, "order_year", YearTransform)))
      val t = IceTable.create(cat, ident, schema, spec)
      t.append(spark).appendDataFrame(raw)
      t.overwrite(spark).dynamic(
        raw.filter("year(o_orderdate) = 2000")
          .withColumn("o_totalprice", lit(1.0)))
      t
    }

  /** replaceAll overwrite: even orderkeys only. */
  def replaced(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_replaced") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      t.append(spark).appendDataFrame(raw)
      t.overwrite(spark).replaceAll(raw.filter("o_orderkey % 2 = 0"))
      t
    }

  /** Z-order layout rewrite over lineitem: unsorted multi-file appends,
    * then one curve rewrite on (l_orderkey, l_partkey). */
  def zorder(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "lineitem_zorder") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      for (i <- 0 until 4)
        t.append(spark).appendDataFrame(raw.filter(s"l_partkey % 4 = $i"))
      t.compact(spark).zorder(Seq("l_orderkey", "l_partkey"),
        targetFileSizeBytes = 16L * 1024 * 1024)
      t
    }

  /** Rate-limited drain of a multi-snapshot table: max-files-per-trigger=1
    * must split the AvailableNow drain into one batch per single-file
    * snapshot (gated), while still delivering every row. */
  def streamRateLimitOut(s: SparkSession, sfDir: String): String = {
    val wh = Tables.warehouseDir(sfDir)
    val cat = Tables.catalog(sfDir)
    val ident = TableIdentifier(Seq("tpch"), "orders_paced")
    val nSnaps = 4
    Tables.ensure(cat, ident) {
      val raw = Tables.raw(s, sfDir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      for (i <- 0 until nSnaps)
        t.append(s).appendDataFrame(
          raw.filter(s"o_orderkey % $nSnaps = $i").repartition(1))
    }
    val out = s"$wh/_paced_out"
    val ckpt = s"$wh/_paced_ckpt"
    Tables.sidecar(out, ckpt) {
      val q = s.readStream.format("graft-table")
        .option("warehouse", wh).option("table", "tpch.orders_paced")
        .option("max-files-per-trigger", "1").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val batches = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      require(batches.size == nSnaps,
        s"max-files-per-trigger=1 must make $nSnaps single-file batches, got $batches")
    }
  }

  /** Fixture for the graft-table STREAMING SOURCE: a three-append table
    * followed by a checkpointed AvailableNow stream into a parquet sink.
    * Re-runs are no-ops once caught up (offsets are snapshot ids), so the
    * sink converges on exactly the table's rows. */
  def streamFollowOut(s: SparkSession, sfDir: String): String = {
    val wh = Tables.warehouseDir(sfDir)
    val cat = Tables.catalog(sfDir)
    val ident = TableIdentifier(Seq("tpch"), "orders_follow")
    Tables.ensure(cat, ident) {
      val raw = Tables.raw(s, sfDir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      for (i <- 0 until 3)
        t.append(s).appendDataFrame(raw.filter(s"o_orderkey % 3 = $i"))
    }
    val out = s"$wh/_follow_out"
    val q = s.readStream.format("graft-table")
      .option("warehouse", wh).option("table", "tpch.orders_follow").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$wh/_follow_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    out
  }

  /** Changelog streaming (round-11 verdict item 8): mode=cdc composes the
    * two surfaces the engine already has — snapshot-aligned streaming
    * offsets and CDC planning — into the shape an incremental consumer
    * uses: `_change_type`-stamped micro-batches between snapshot offsets.
    * The fixture drains a MoR-merge history (initial append, then a
    * merge-on-read MERGE whose position deletes supersede matched rows)
    * with AvailableNow; the query derives update pre/post images from the
    * drained raw changes with the SAME pairing rule as planChangelog, so
    * the DuckDB oracle pins the whole chain end to end. */
  def streamCdcOut(s: SparkSession, sfDir: String): String = {
    val wh = Tables.warehouseDir(sfDir)
    val cat = Tables.catalog(sfDir)
    val ident = TableIdentifier(Seq("tpch"), "orders_cdcfollow")
    Tables.ensure(cat, ident) {
      val raw = Tables.raw(s, sfDir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      t.append(s).appendDataFrame(raw)
      val src = raw.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(500.0))
        .unionByName(raw.filter(col("o_orderkey") % 100 === 7)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)))
      t.merge(s, src, Seq("o_orderkey"))
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .withMergeOnRead()
        .commit()
    }
    val out = s"$wh/_cdcfollow_out"
    val q = s.readStream.format("graft-table")
      .option("warehouse", wh).option("table", "tpch.orders_cdcfollow")
      .option("mode", "cdc").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$wh/_cdcfollow_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    out
  }

  /** Non-append snapshots mid-stream (round-7 verdict item 6): a DELETE
    * lands between two appends. Fail-by-default is GATED here (the stream
    * must refuse — its row-level effects are not representable as an
    * append batch); `skip-non-append-snapshots=true` opts into skipping,
    * and the skip semantics (deleted rows still present downstream,
    * because only APPEND snapshots feed batches) is what the driver
    * oracle pins. */
  def streamSkipOut(s: SparkSession, sfDir: String): String = {
    val wh = Tables.warehouseDir(sfDir)
    val cat = Tables.catalog(sfDir)
    val ident = TableIdentifier(Seq("tpch"), "orders_skipna")
    val out = s"$wh/_skipna_out"
    Tables.ensure(cat, ident) {
      val raw = Tables.raw(s, sfDir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      t.append(s).appendDataFrame(raw.filter("o_orderkey % 2 = 0"))
      // the mid-stream non-append snapshot
      t.delete(s).deleteWhere(graft.ice.expr.Expr.raw("o_totalprice < 50000.0"))
      t.append(s).appendDataFrame(raw.filter("o_orderkey % 2 = 1"))

      // default mode MUST refuse the range: the failure is the pin
      val failing = s.readStream.format("graft-table")
        .option("warehouse", wh).option("table", "tpch.orders_skipna").load()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$wh/_skipna_fail_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val err = try { failing.awaitTermination(); None }
        catch { case e: Throwable => Some(e) }
      val chain = Iterator.iterate(err.orNull)(e =>
        if (e == null) null else e.getCause).takeWhile(_ != null).toSeq
      require(chain.exists(_.getMessage != null) &&
        chain.exists(e => Option(e.getMessage).exists(_.contains("non-append"))),
        s"default-mode stream over a DELETE must fail naming the " +
          s"non-append snapshot; got: ${err.map(_.toString).getOrElse("no error")}")
    }
    // opt-in: the stream drains BOTH appends, skipping the delete — the
    // deleted rows remain downstream (append-only semantics)
    val q = s.readStream.format("graft-table")
      .option("warehouse", wh).option("table", "tpch.orders_skipna")
      .option("skip-non-append-snapshots", "true").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$wh/_skipna_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    out
  }

  /** Tables for the driver-oracled SQL-path queries: all mutations run
    * through `spark.sql` (the GraftExtensions surface), once per
    * warehouse (the DirCatalog persists across JVMs, so the existence
    * check is the guard and the per-JVM memo only saves re-checking).
    * The conf is set on every call because `spark.graft.warehouse` is
    * session conf.
    *
    * Fixture-ensure stays OUTSIDE the timed region: the existence probes
    * (one metadata load per table per call) are memoized per JVM, so
    * after the warm-up pass a timed run pays only the per-session
    * conf.set — a fork-iso child's timed number measures the QUERY, not
    * re-probing. */
  def sqlDml(s: SparkSession, sfDir: String): Unit = {
    s.conf.set("spark.graft.warehouse", Tables.warehouseDir(sfDir))
    Tables.once(s"$sfDir/sqlq") {
      val cat = Tables.catalog(sfDir)

      Tables.ensure(cat, TableIdentifier(Seq("sqlq"), "orders_dml")) {
        Tables.raw(s, sfDir, "orders").createOrReplaceTempView("sqlq_orders")
        s.sql("CREATE TABLE graft.sqlq.orders_dml AS SELECT * FROM sqlq_orders")
        s.sql("DELETE FROM graft.sqlq.orders_dml WHERE o_orderstatus = 'F'")
        s.sql("""UPDATE graft.sqlq.orders_dml SET o_totalprice = o_totalprice + 10.0
                |WHERE o_orderpriority = '1-URGENT'""".stripMargin)
      }

      Tables.ensure(cat, TableIdentifier(Seq("sqlq"), "merge_t")) {
        Tables.raw(s, sfDir, "orders").createOrReplaceTempView("sqlq_orders")
        s.sql("""CREATE TABLE graft.sqlq.merge_t AS
                |SELECT o_orderkey, o_orderstatus, o_totalprice
                |FROM sqlq_orders WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql("""SELECT o_orderkey, 'X' AS o_orderstatus,
                |  o_totalprice + 1000.0 AS o_totalprice
                |FROM sqlq_orders WHERE o_orderkey % 3 = 0""".stripMargin)
          .createOrReplaceTempView("sqlq_merge_src")
        s.sql("""MERGE INTO graft.sqlq.merge_t t USING sqlq_merge_src s
                |ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET
                |  o_orderstatus = s.o_orderstatus, o_totalprice = s.o_totalprice
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }

      Tables.ensure(cat, TableIdentifier(Seq("sqlq"), "tt")) {
        Tables.raw(s, sfDir, "nation").createOrReplaceTempView("sqlq_nation")
        s.sql("""CREATE TABLE graft.sqlq.tt AS
                |SELECT n_nationkey, n_name FROM sqlq_nation
                |WHERE n_nationkey < 10""".stripMargin)
        s.sql("""INSERT INTO graft.sqlq.tt
                |SELECT n_nationkey, n_name FROM sqlq_nation
                |WHERE n_nationkey >= 10""".stripMargin)
      }
    }
  }

  /** Snapshot id of the tt table's FIRST snapshot (the CTAS batch) —
    * the VERSION AS OF anchor, stable across reloads. */
  def sqlTtFirstSnapshot(sfDir: String): Long = {
    val t = graft.ice.IceTable.load(Tables.catalog(sfDir),
      TableIdentifier(Seq("sqlq"), "tt"))
    t.snapshots.minBy(_.sequenceNumber).snapshotId
  }

  /** Two successive copy-on-write updates of the same rows — the fixture
    * behind `cdc_net_changes` (engine API) and `proc_changelog_view`
    * (CALL procedure), which must agree on the same table state. */
  def netCdc(s: SparkSession, dir: String): IceTable = {
    import graft.ice.expr.{Expr => XE}
    import graft.ice.types.{Literal => XL}
    Tables.tpch(dir, "orders_netcdc") { (cat, ident) =>
      val raw = Tables.raw(s, dir, "orders")
      val created = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      created.append(s).appendDataFrame(raw)
      created.delete(s).updateWhere(
        XE.equal("o_orderpriority", XL.string("1-URGENT")),
        Map("o_totalprice" -> "o_totalprice + 500.0"))
      created.delete(s).updateWhere(
        XE.equal("o_orderpriority", XL.string("1-URGENT")),
        Map("o_totalprice" -> "o_totalprice + 500.0"))
      created
    }
  }

  /** Row-level DML exercised ONLY through V2 catalog identifiers
    * (`ice.catq.*`) — the catalog-symmetry counterpart of `sqlDml`:
    * same statement shapes, different mutations, so each family has an
    * independent DuckDB oracle. `spark.graft.warehouse` is deliberately
    * NOT required: the commands take the warehouse from the owning
    * catalog plugin.
    *
    * Memoized like `sqlDml`: the three existence probes ran INSIDE the
    * timed region on every run — a scan-split A/B (r16) measured them as
    * the whole 1.4x "regression" on sql_catalog_update's fork-iso number
    * (fixture-ensure noise, not the query). */
  def catalogDml(s: SparkSession, sfDir: String): Unit = {
    s.conf.set("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
    s.conf.set("spark.sql.catalog.ice.warehouse", Tables.warehouseDir(sfDir))
    Tables.once(s"$sfDir/catq") {
      val cat = Tables.catalog(sfDir)

      Tables.ensure(cat, TableIdentifier(Seq("catq"), "orders_v2dml")) {
        Tables.raw(s, sfDir, "orders").createOrReplaceTempView("catq_orders")
        s.sql("CREATE TABLE ice.catq.orders_v2dml AS SELECT * FROM catq_orders")
        s.sql("""UPDATE ice.catq.orders_v2dml SET o_totalprice = o_totalprice * 2.0
                |WHERE o_orderstatus = 'O'""".stripMargin)
        s.sql("DELETE FROM ice.catq.orders_v2dml WHERE o_orderpriority = '5-LOW'")
      }

      // v3 defaults through pure SQL DDL/DML: ADD COLUMN DEFAULT sets
      // initial+write default, SET DEFAULT then moves only the WRITE
      // default — so pre-evolution rows read 'STANDARD' (scan-injected)
      // while the later defaults-filled INSERT writes 'BASIC'
      Tables.ensure(cat, TableIdentifier(Seq("catq"), "supp_defaults")) {
        Tables.raw(s, sfDir, "supplier").createOrReplaceTempView("catq_supplier")
        s.sql("""CREATE TABLE ice.catq.supp_defaults AS
                |SELECT s_suppkey, s_name FROM catq_supplier
                |WHERE s_suppkey % 2 = 0""".stripMargin)
        s.sql("ALTER TABLE ice.catq.supp_defaults ADD COLUMN tier STRING DEFAULT 'STANDARD'")
        s.sql("ALTER TABLE ice.catq.supp_defaults ALTER COLUMN tier SET DEFAULT 'BASIC'")
        s.sql("""INSERT INTO ice.catq.supp_defaults (s_suppkey, s_name)
                |SELECT s_suppkey, s_name FROM catq_supplier
                |WHERE s_suppkey % 2 = 1""".stripMargin)
      }

      Tables.ensure(cat, TableIdentifier(Seq("catq"), "merge_v2")) {
        Tables.raw(s, sfDir, "orders").createOrReplaceTempView("catq_orders")
        s.sql("""CREATE TABLE ice.catq.merge_v2 AS
                |SELECT o_orderkey, o_orderstatus, o_totalprice
                |FROM catq_orders WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql("""SELECT o_orderkey, 'Y' AS o_orderstatus,
                |  o_totalprice + 500.0 AS o_totalprice
                |FROM catq_orders WHERE o_orderkey % 3 = 0""".stripMargin)
          .createOrReplaceTempView("catq_merge_src")
        s.sql("""MERGE INTO ice.catq.merge_v2 t USING catq_merge_src s
                |ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET
                |  o_orderstatus = s.o_orderstatus, o_totalprice = s.o_totalprice
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
    }
  }

  /** Orders replica with REGISTERED theta NDV statistics — the build side
    * of q_stats_broadcast. The sketch is computed once at fixture build;
    * planning reads only the blob metadata (ndv property). */
  def stats(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "stats_orders") { (cat, ident) =>
      val df = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(df.schema))
      t.append(spark).appendDataFrame(df)
      graft.ice.write.Statistics.compute(t, spark,
        Seq("o_custkey", "o_orderkey", "o_orderstatus"))
      IceTable.load(cat, ident)
    }

  /** Range-clustered unpartitioned orders table for the TopN-pushdown
    * gate: a declared o_orderkey sort order makes the append range-
    * disjoint across several files (AQE partition coalescing disabled
    * for the write so the tiny fixture still produces an end-run to
    * select from). */
  def topN(spark: SparkSession, sfDir: String): Unit = {
    val cat = Tables.catalog(sfDir)
    val ident = TableIdentifier(Seq("tpch"), "topn_orders")
    Tables.once(s"$sfDir/tpch.topn_orders") {
      Tables.ensure(cat, ident) {
        val df = spark.read.parquet(s"$sfDir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val schema = SparkConv.fromSpark(df.schema)
        val key = schema.findFieldByName("o_orderkey").get.id
        val order = SortOrder(1, IndexedSeq(
          SortField(key, IdentityTransform, ascending = true, nullsFirst = true)))
        val t = IceTable.create(cat, ident, schema,
          graft.ice.meta.PartitionSpec.unpartitioned, order)
        val k = "spark.sql.adaptive.coalescePartitions.enabled"
        val prev = spark.conf.getOption(k)
        spark.conf.set(k, "false")
        try t.append(spark).appendDataFrame(df)
        finally prev match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }
    }
  }

  /** Multi-file orders table for the metadata-aggregate gate: two appends
    * so the pushed COUNT/MIN/MAX provably merges across files. */
  def aggPush(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "aggpush_orders") { (cat, ident) =>
      val df = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(df.schema))
      val mid = spark.read.parquet(s"$sfDir/orders.parquet")
        .agg(percentile_approx(col("o_orderkey"), lit(0.5), lit(100)))
        .collect().head.getLong(0)
      t.append(spark).appendDataFrame(df.filter(col("o_orderkey") <= mid))
      t.append(spark).appendDataFrame(df.filter(col("o_orderkey") > mid))
      IceTable.load(cat, ident)
    }

  /** Grouped-pushdown fixture: orders projected onto an IDENTITY-
    * partitioned table (partition column = o_orderstatus), two appends so
    * every group spans multiple files — the metadata answer must merge
    * per-file metrics within each group. */
  def aggPushGrouped(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "aggpush_grouped") { (cat, ident) =>
      val df = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      val schema = SparkConv.fromSpark(df.schema)
      val statusId = schema.findFieldByName("o_orderstatus").get.id
      val spec = PartitionSpec(0, IndexedSeq(
        PartitionField(statusId, 1000, "o_orderstatus", IdentityTransform)))
      val t = IceTable.create(cat, ident, schema, spec)
      t.append(spark).appendDataFrame(df.filter(col("o_orderkey") % 2 === 0))
      t.append(spark).appendDataFrame(df.filter(col("o_orderkey") % 2 === 1))
      IceTable.load(cat, ident)
    }

  /** Float-metric fixture: `graft.write.nan-counts=true` records per-file
    * NaN counts at append, which is what makes MIN/MAX over a DOUBLE
    * column provable from metadata (SQL orders NaN above everything;
    * parquet stats cannot see it). */
  def aggPushFloat(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "aggpush_prices") { (cat, ident) =>
      val df = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_totalprice")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(df.schema),
        properties = Map("graft.write.nan-counts" -> "true"))
      t.append(spark).appendDataFrame(df.filter(col("o_orderkey") % 2 === 0))
      t.append(spark).appendDataFrame(df.filter(col("o_orderkey") % 2 === 1))
      IceTable.load(cat, ident)
    }

  /** Compaction fixture: orders + two tiny appends of EXTRA rows would change
    * content, so instead: orders split into 4 small appends, then compacted —
    * content equals plain orders. */
  def compaction(spark: SparkSession, sfDir: String): IceTable =
    Tables.tpch(sfDir, "orders_compacted") { (cat, ident) =>
      val raw = Tables.raw(spark, sfDir, "orders")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(raw.schema))
      for (i <- 0 until 4)
        t.append(spark).appendDataFrame(raw.filter(s"o_orderkey % 4 = $i"))
      t.compact(spark).rewriteDataFiles(targetFileSizeBytes = 128L * 1024 * 1024)
      t
    }
}
