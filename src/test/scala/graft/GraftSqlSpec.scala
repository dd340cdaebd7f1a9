package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice._
import graft.ice.catalog._
import graft.ice.types._

/** Pure-SQL access through the `graft` catalog: `graft.<ns>.<t>`
  * identifiers, VERSION AS OF (snapshot id AND branch/tag names),
  * TIMESTAMP AS OF — each pinned equal to the Scala scan API. */
class GraftSqlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    // this suite NEEDS its own session: extensions only apply at build
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.ice.connector.GraftCatalogPlugin")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("whsql").toString

  /** db.t with two snapshots (5 then +5 rows) and a branch pinned at
    * the first. */
  private lazy val table: IceTable = {
    val cat = new DirCatalog(warehouse)
    val df1 = spark.range(0, 5).selectExpr("id", "id * 10 as v")
    val t = IceTable.create(cat, TableIdentifier.parse("db.t"),
      SparkConv.fromSpark(df1.schema))
    t.append(spark).appendDataFrame(df1)
    val first = t.currentSnapshot.get.snapshotId
    t.manageSnapshots().createBranch("audit", first)
    t.append(spark).appendDataFrame(spark.range(5, 10).selectExpr("id", "id * 10 as v"))
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    t
  }

  test("SELECT over graft.<ns>.<table> resolves to the planned scan") {
    val t = table
    val viaSql = spark.sql(
      "SELECT t.id, v FROM graft.db.t WHERE v >= 20 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaApi = t.newScan().toDF(spark).filter("v >= 20").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == viaApi)
    assert(viaSql.size == 8)
  }

  test("joins and aggregates over two graft relations") {
    val n = spark.sql(
      """SELECT count(*) AS n FROM graft.db.t a JOIN graft.db.t b ON a.id = b.id"""
    ).collect().head.getLong(0)
    assert(n == 10L)
  }

  test("VERSION AS OF snapshot id, branch name, and TIMESTAMP AS OF") {
    val t = table
    val snaps = t.snapshots.sortBy(_.sequenceNumber)
    // refs (branch create) commit metadata without snapshots: the FIRST
    // data snapshot is the one the branch pins
    val firstData = snaps.head
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.db.t VERSION AS OF ${firstData.snapshotId}")
      .collect().head.getLong(0) == 5L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.t VERSION AS OF 'audit'")
      .collect().head.getLong(0) == 5L)
    // millisecond precision: truncating to seconds could land BEFORE
    // the first snapshot and fail the as-of lookup
    val asOf = java.time.Instant.ofEpochMilli(firstData.timestampMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.db.t TIMESTAMP AS OF '$asOf'")
      .collect().head.getLong(0) == 5L)
  }

  test("INSERT INTO appends through the snapshot producer; VALUES and column list") {
    val t = table
    val before = t.snapshots.size
    spark.sql("INSERT INTO graft.db.t VALUES (100, 1000), (101, 1010)")
    spark.sql("INSERT INTO graft.db.t (v, id) SELECT 1200, 120")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t")
      .collect().head.getLong(0) == 13L)
    assert(spark.sql("SELECT v FROM graft.db.t WHERE id = 120")
      .collect().head.getLong(0) == 1200L)
    t.refresh()
    assert(t.snapshots.size == before + 2, "each INSERT = one snapshot")
    assert(t.newScan().toDF(spark).count() == 13L, "Scala API sees SQL writes")
  }

  test("INSERT OVERWRITE on an unpartitioned table is truncate-and-load") {
    val cat = new DirCatalog(warehouse)
    val df = spark.range(0, 4).selectExpr("id", "id as v")
    val t = IceTable.create(cat, TableIdentifier.parse("db.ow"),
      SparkConv.fromSpark(df.schema))
    t.append(spark).appendDataFrame(df)
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    spark.sql("INSERT OVERWRITE graft.db.ow VALUES (7, 70)")
    val rows = spark.sql("SELECT id, v FROM graft.db.ow").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 7L)
    // time travel still sees the pre-overwrite content
    t.refresh()
    val firstSnap = t.snapshots.minBy(_.sequenceNumber)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.db.ow VERSION AS OF ${firstSnap.snapshotId}")
      .collect().head.getLong(0) == 4L)
  }

  test("DELETE FROM prunes with structural predicates; UPDATE rewrites in place") {
    val cat = new DirCatalog(warehouse)
    val df = spark.range(0, 100).selectExpr("id", "id * 2 as v")
    val t = IceTable.create(cat, TableIdentifier.parse("db.rl"),
      SparkConv.fromSpark(df.schema))
    t.append(spark).appendDataFrame(df.repartitionByRange(4, org.apache.spark.sql.functions.col("id")))
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)

    spark.sql("DELETE FROM graft.db.rl WHERE id >= 90")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.rl")
      .collect().head.getLong(0) == 90L)
    t.refresh()
    // structural predicate pruned: range-clustered files make the
    // delete touch only the top file; earlier files survive untouched
    val del = t.snapshots.maxBy(_.sequenceNumber)
    assert(del.summary.get("removed-data-files").exists(_.toInt <= 2),
      s"delete should rewrite <=2 of 4 range files, summary=${del.summary}")

    spark.sql("UPDATE graft.db.rl SET v = v + 1000 WHERE id < 10")
    val got = spark.sql(
      "SELECT sum(v) AS s FROM graft.db.rl WHERE id < 10").collect().head.getLong(0)
    assert(got == (0 until 10).map(i => i * 2 + 1000).sum)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.rl")
      .collect().head.getLong(0) == 90L, "update must not change row count")
    // untouched rows keep their values
    assert(spark.sql("SELECT v FROM graft.db.rl WHERE id = 50")
      .collect().head.getLong(0) == 100L)

    // raw-fallback predicate (expression over two columns): no pruning
    // but exact results
    spark.sql("DELETE FROM graft.db.rl WHERE v - id = id")  // v = 2*id: all non-updated
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.rl")
      .collect().head.getLong(0) == 10L, "only the updated rows survive")
  }

  test("UPDATE under write.update.mode=merge-on-read supersedes, never rewrites") {
    val cat = new DirCatalog(warehouse)
    val df = spark.range(0, 1000).selectExpr("id", "id * 10 as v")
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)

    // v2: position-delete parquet plane
    val t = IceTable.create(cat, TableIdentifier.parse("db.updmor"),
      SparkConv.fromSpark(df.schema),
      properties = Map(
        "write.update.mode" -> "merge-on-read",
        "write.delete.mode" -> "merge-on-read"))
    t.append(spark).appendDataFrame(df)
    val before = t.newScan().planFiles().map(_.file.filePath).toSet
    spark.sql("UPDATE graft.db.updmor SET v = -1 WHERE id = 7")
    val t2 = IceTable.load(cat, TableIdentifier.parse("db.updmor"))
    val after = t2.newScan().planFiles().map(_.file.filePath).toSet
    // a 1-row UPDATE rewrites NO data file: originals all still live,
    // only the re-inserted row's file is new
    assert(before.subsetOf(after), "MoR update must not drop data files")
    assert((after -- before).nonEmpty, "MoR update appends the updated rows")
    val dels = t2.planDeleteEntries(t2.currentSnapshot.get)
    assert(dels.nonEmpty && dels.forall(_.dataFile.fileFormat == "PARQUET"))
    assert(spark.sql("SELECT v FROM graft.db.updmor WHERE id = 7")
      .collect().head.getLong(0) == -1L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.updmor")
      .collect().head.getLong(0) == 1000L)

    // no resurrection: a row deleted MoR before the update must stay
    // deleted even when the update's predicate covers it
    spark.sql("DELETE FROM graft.db.updmor WHERE id = 3")
    spark.sql("UPDATE graft.db.updmor SET v = -2 WHERE id < 10")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.updmor WHERE id = 3")
      .collect().head.getLong(0) == 0L, "MoR update resurrected a deleted row")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.updmor WHERE v = -2")
      .collect().head.getLong(0) == 9L)

    // v3: the delete plane is a deletion vector (puffin), same contract
    val t3 = IceTable.create(cat, TableIdentifier.parse("db.updmor3"),
      SparkConv.fromSpark(df.schema),
      properties = Map("write.update.mode" -> "merge-on-read"))
    t3.upgradeFormatVersion(3)
    t3.append(spark).appendDataFrame(df)
    val before3 = t3.newScan().planFiles().map(_.file.filePath).toSet
    spark.sql("UPDATE graft.db.updmor3 SET v = -1 WHERE id = 7")
    val t3b = IceTable.load(cat, TableIdentifier.parse("db.updmor3"))
    assert(before3.subsetOf(t3b.newScan().planFiles().map(_.file.filePath).toSet))
    val dels3 = t3b.planDeleteEntries(t3b.currentSnapshot.get)
    assert(dels3.nonEmpty && dels3.forall(_.dataFile.fileFormat == "PUFFIN"),
      s"v3 MoR update must write deletion vectors, got ${dels3.map(_.dataFile.fileFormat)}")
    assert(spark.sql("SELECT v FROM graft.db.updmor3 WHERE id = 7")
      .collect().head.getLong(0) == -1L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.updmor3")
      .collect().head.getLong(0) == 1000L)
  }

  test("DELETE on a merge-on-read table writes delete files, not rewrites") {
    val cat = new DirCatalog(warehouse)
    val df = spark.range(0, 50).selectExpr("id", "id as v")
    val t = IceTable.create(cat, TableIdentifier.parse("db.rlmor"),
      SparkConv.fromSpark(df.schema),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append(spark).appendDataFrame(df)
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    spark.sql("DELETE FROM graft.db.rlmor WHERE id >= 40")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.rlmor")
      .collect().head.getLong(0) == 40L)
    t.refresh()
    assert(t.planDeleteEntries(t.currentSnapshot.get).nonEmpty,
      "merge-on-read DELETE must add delete files")
  }

  test("MERGE INTO: update-set with aliases, insert star, and delete-matched") {
    val cat = new DirCatalog(warehouse)
    val df = spark.range(0, 10).selectExpr("id", "id * 2 as v")
    val t = IceTable.create(cat, TableIdentifier.parse("db.mt"),
      SparkConv.fromSpark(df.schema))
    t.append(spark).appendDataFrame(df)
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)

    // upsert: ids 8,9 update (v += source v), ids 10,11 insert
    spark.range(8, 12).selectExpr("id", "id * 100 as v")
      .createOrReplaceTempView("src")
    spark.sql(
      """MERGE INTO graft.db.mt tgt USING src ON tgt.id = src.id
        |WHEN MATCHED THEN UPDATE SET v = tgt.v + src.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT id, v FROM graft.db.mt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 12)
    assert(rows(8) == (8L, 8L * 2 + 8L * 100))
    assert(rows(11) == (11L, 11L * 100))
    assert(rows(3) == (3L, 6L), "unmatched target rows keep their values")

    // delete-matched
    spark.sql(
      """MERGE INTO graft.db.mt tgt USING src ON tgt.id = src.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.mt")
      .collect().head.getLong(0) == 8L)
  }

  test("CREATE TABLE with partition transforms, CTAS, DROP TABLE") {
    table // sets the warehouse conf
    spark.sql(
      """CREATE TABLE graft.db.ddl (id BIGINT, cat STRING, ts TIMESTAMP_NTZ)
        |PARTITIONED BY (bucket(4, id), months(ts))
        |TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""".stripMargin)
    val t = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.ddl"))
    assert(t.schema.fields.map(_.name).toSeq == Seq("id", "cat", "ts"))
    assert(t.spec.fields.map(_.name).toSeq == Seq("id_bucket", "ts_month"))
    assert(t.properties.get("write.delete.mode").contains("merge-on-read"))
    // SQL writes + reads flow through the partitioned layout
    spark.sql(
      """INSERT INTO graft.db.ddl VALUES
        |(1, 'a', TIMESTAMP_NTZ'2024-01-15 00:00:00'),
        |(2, 'b', TIMESTAMP_NTZ'2024-02-15 00:00:00')""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.ddl")
      .collect().head.getLong(0) == 2L)

    spark.sql(
      """CREATE TABLE graft.db.ddl2 AS
        |SELECT id, v FROM graft.db.t WHERE id < 3""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.ddl2")
      .collect().head.getLong(0) == 3L)

    intercept[Exception](spark.sql("CREATE TABLE graft.db.ddl2 (x INT)"))
    spark.sql("CREATE TABLE IF NOT EXISTS graft.db.ddl2 (x INT)") // no-op

    spark.sql("DROP TABLE graft.db.ddl2")
    intercept[Exception](
      spark.sql("SELECT * FROM graft.db.ddl2").collect())
    intercept[Exception](spark.sql("DROP TABLE graft.db.nope"))
    spark.sql("DROP TABLE IF EXISTS graft.db.nope") // no-op
  }

  test("ALTER TABLE: add/rename/drop columns and set/unset properties") {
    val cat = new DirCatalog(warehouse)
    val df = spark.range(0, 5).selectExpr("id", "id * 3 as v")
    val t = IceTable.create(cat, TableIdentifier.parse("db.alt"),
      SparkConv.fromSpark(df.schema))
    t.append(spark).appendDataFrame(df)
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)

    spark.sql("ALTER TABLE graft.db.alt ADD COLUMNS (tag STRING, score DOUBLE)")
    // new columns read NULL from pre-evolution files (field-id absence)
    val r = spark.sql("SELECT id, v, tag, score FROM graft.db.alt WHERE id = 2")
      .collect().head
    assert(r.getLong(1) == 6L && r.isNullAt(2) && r.isNullAt(3))
    // and are writable
    spark.sql("INSERT INTO graft.db.alt VALUES (9, 27, 'x', 0.5)")
    assert(spark.sql("SELECT tag FROM graft.db.alt WHERE id = 9")
      .collect().head.getString(0) == "x")

    spark.sql("ALTER TABLE graft.db.alt RENAME COLUMN tag TO label")
    assert(spark.sql("SELECT label FROM graft.db.alt WHERE id = 9")
      .collect().head.getString(0) == "x", "renamed column resolves old files by field id")

    spark.sql("ALTER TABLE graft.db.alt DROP COLUMN score")
    t.refresh()
    assert(t.schema.fields.map(_.name).toSeq == Seq("id", "v", "label"))
    intercept[Exception](
      spark.sql("ALTER TABLE graft.db.alt DROP COLUMN nope"))

    spark.sql("ALTER TABLE graft.db.alt SET TBLPROPERTIES ('a.b' = 'c', 'd' = 'e')")
    t.refresh()
    assert(t.properties.get("a.b").contains("c") && t.properties.get("d").contains("e"))
    spark.sql("ALTER TABLE graft.db.alt UNSET TBLPROPERTIES ('d')")
    t.refresh()
    assert(!t.properties.contains("d") && t.properties.get("a.b").contains("c"))
  }

  test("ALTER COLUMN TYPE promotes int->long; old files read through") {
    val cat = new DirCatalog(warehouse)
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    spark.sql("CREATE TABLE graft.db.promo (id BIGINT, n INT, f FLOAT)")
    spark.sql("INSERT INTO graft.db.promo VALUES (1, 100, CAST(1.5 AS FLOAT))," +
      " (2, 200, CAST(2.5 AS FLOAT))")

    spark.sql("ALTER TABLE graft.db.promo ALTER COLUMN n TYPE BIGINT")
    spark.sql("ALTER TABLE graft.db.promo ALTER COLUMN f TYPE DOUBLE")
    val t = IceTable.load(cat, TableIdentifier.parse("db.promo"))
    assert(t.schema.findFieldByName("n").get.fieldType == LongT)
    assert(t.schema.findFieldByName("f").get.fieldType == DoubleT)

    // pre-promotion files (physical int32/float) read through the
    // field-id resolver as long/double
    val rows = spark.sql(
      "SELECT id, n, f FROM graft.db.promo ORDER BY id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(100L, 200L))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(1.5, 2.5))
    // post-promotion writes land as the widened type and coexist
    spark.sql("INSERT INTO graft.db.promo VALUES (3, 4000000000, 3.5)")
    val all = spark.sql("SELECT n FROM graft.db.promo ORDER BY id").collect()
    assert(all.map(_.getLong(0)).toSeq == Seq(100L, 200L, 4000000000L))

    // illegal promotions fail loudly, metadata unchanged
    intercept[Exception](
      spark.sql("ALTER TABLE graft.db.promo ALTER COLUMN id TYPE INT"))
    intercept[Exception](
      spark.sql("ALTER TABLE graft.db.promo ALTER COLUMN n TYPE STRING"))
    t.refresh()
    assert(t.schema.findFieldByName("n").get.fieldType == LongT)

    // DROP NOT NULL and COMMENT ride the same command
    spark.sql("ALTER TABLE graft.db.promo ALTER COLUMN n COMMENT 'widened'")
    t.refresh()
    assert(t.schema.findFieldByName("n").get.doc.contains("widened"))
  }

  test("SQL metadata tables: graft.db.t.snapshots / files / refs") {
    val t = table
    t.refresh()
    val nSnaps = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t.snapshots").collect().head.getLong(0)
    assert(nSnaps == t.snapshots.size.toLong)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.t.files WHERE record_count > 0")
      .collect().head.getLong(0) >= 1L)
    val refs = spark.sql(
      "SELECT name FROM graft.db.t.refs ORDER BY name").collect().map(_.getString(0))
    assert(refs.contains("audit") && refs.contains("main"))
    // inspection tables join against data tables like any relation
    val joined = spark.sql(
      """SELECT count(*) AS n FROM graft.db.t.snapshots s
        |JOIN graft.db.t.history h ON s.snapshot_id = h.snapshot_id""".stripMargin)
      .collect().head.getLong(0)
    assert(joined >= nSnaps, "every snapshot appears in history")
  }

  test("SQL WHERE prunes scan planning, not just parquet row groups") {
    val cat = new DirCatalog(warehouse)
    val df = spark.range(0, 1000).selectExpr("id", "cast(id % 8 as int) as bkt", "id * 2 as v")
    val schema = SparkConv.fromSpark(df.schema)
    val bktId = schema.findFieldByName("bkt").get.id
    val t = IceTable.create(cat, TableIdentifier.parse("db.pr"), schema,
      graft.ice.meta.PartitionSpec(0, IndexedSeq(
        graft.ice.meta.PartitionField(bktId, 1000, "bkt", graft.ice.transform.IdentityTransform))))
    t.append(spark).appendDataFrame(df)
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)

    def scannedFiles(sql: String): Int = {
      val plan = spark.sql(sql).queryExecution.executedPlan
      plan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.flatMap {
            case graft.ice.connector.GraftPackedSplit(members) => members
            case s: graft.ice.connector.GraftFileSplit => Seq(s)
          }.map(_.path).distinct.size
      }.sum
    }
    val all = scannedFiles("SELECT * FROM graft.db.pr")
    assert(all >= 8, s"partitioned fixture should have >=8 files, got $all")
    val pruned = scannedFiles("SELECT * FROM graft.db.pr WHERE bkt = 3")
    assert(pruned <= all / 4, s"WHERE bkt=3 scanned $pruned of $all files")
    // aliased relation + mixed predicate (structural part prunes, the
    // arithmetic residue is exact via the Filter on top)
    val prunedAlias = scannedFiles(
      "SELECT * FROM graft.db.pr p WHERE p.bkt = 3 AND p.v - p.id = p.id")
    assert(prunedAlias <= all / 4)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.pr WHERE bkt = 3")
      .collect().head.getLong(0) == 125L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.pr p WHERE p.bkt = 3 AND p.v - p.id = p.id")
      .collect().head.getLong(0) == 125L)
  }

  test("concurrent SQL INSERTs race through the optimistic commit protocol") {
    val cat = new DirCatalog(warehouse)
    val df = spark.range(0, 1).selectExpr("id", "id as v")
    IceTable.create(cat, TableIdentifier.parse("db.cc"),
      SparkConv.fromSpark(df.schema))
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val writers = (0 until 4).map { i =>
      Future {
        spark.sql(s"INSERT INTO graft.db.cc VALUES (${100 + i}, ${1000 + i})")
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.cc")
      .collect().head.getLong(0) == 4L, "every racing INSERT must commit")
    assert(spark.sql("SELECT count(DISTINCT id) AS n FROM graft.db.cc")
      .collect().head.getLong(0) == 4L)
    val snaps = spark.sql(
      "SELECT count(*) AS n FROM graft.db.cc.snapshots").collect().head.getLong(0)
    assert(snaps == 4L, s"4 INSERTs = 4 snapshots, got $snaps")
  }

  test("WHERE over a time-travel relation pins the snapshot AND prunes") {
    val t = table
    t.refresh()
    val firstData = t.snapshots.minBy(_.sequenceNumber)
    // filter + VERSION AS OF compose: only first-snapshot rows, filtered
    val rows = spark.sql(
      s"""SELECT id FROM graft.db.t VERSION AS OF ${firstData.snapshotId}
         |WHERE v >= 20 ORDER BY id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(2L, 3L, 4L), s"got $rows")
  }

  test("without the warehouse conf the graft catalog resolves nothing") {
    table // force fixture (sets the conf)
    spark.conf.unset("spark.sql.catalog.graft.warehouse")
    try {
      // without the conf the catalog has no warehouse to resolve the
      // name in, and analysis fails
      intercept[Exception](spark.sql("SELECT * FROM graft.db.t").collect())
    } finally spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    // resolution returns once the conf is back (>= 10: the INSERT test
    // may have already grown the table)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t")
      .collect().head.getLong(0) >= 10L)
  }

  test("UPDATE/MERGE/DELETE on V2 catalog identifiers match the graft.* rule path") {
    // catalog symmetry (round-7 gap): the same row-level statements must
    // work on ice.db.* names as on graft.db.* names, with identical
    // results — and without the graft catalog's warehouse
    val whIce = java.nio.file.Files.createTempDirectory("whice").toString
    spark.conf.set("spark.sql.catalog.icesql", "graft.ice.connector.GraftCatalogPlugin")
    spark.conf.set("spark.sql.catalog.icesql.warehouse", whIce)
    val savedConf = spark.conf.getOption("spark.sql.catalog.graft.warehouse")
    spark.conf.unset("spark.sql.catalog.graft.warehouse")
    try {
      spark.range(0, 100).selectExpr("id", "id % 5 AS grp", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("rl_src")
      spark.sql("CREATE TABLE icesql.db.rl AS SELECT * FROM rl_src")
      spark.sql("UPDATE icesql.db.rl SET v = v * 10 WHERE grp = 2")
      spark.sql("DELETE FROM icesql.db.rl WHERE grp = 4")
      spark.sql("""SELECT id, id % 5 AS grp, CAST(id AS DOUBLE) * 3 AS v
                  |FROM range(50, 120)""".stripMargin)
        .createOrReplaceTempView("rl_merge_src")
      spark.sql("""MERGE INTO icesql.db.rl t USING rl_merge_src s
                  |ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET v = s.v
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = spark.table("icesql.db.rl").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // reference: the same semantics computed relationally
      val base = (0L until 100L).map(id => (id, id % 5, id.toDouble))
        .map { case (id, g, v) => (id, g, if (g == 2) v * 10 else v) }
        .filterNot(_._2 == 4)
      val srcMap = (50L until 120L).map(id => id -> id.toDouble * 3).toMap
      val merged = base.map { case (id, g, v) => (id, g, srcMap.getOrElse(id, v)) }
      val inserted = (50L until 120L)
        .filterNot(id => base.exists(_._1 == id))
        .map(id => (id, id % 5, id.toDouble * 3))
      assert(got == (merged ++ inserted).toSet)

      // and the SAME statements through graft.* names agree
      spark.conf.set("spark.sql.catalog.graft.warehouse", whIce)
      spark.sql("CREATE TABLE graft.db.rl2 AS SELECT * FROM rl_src")
      spark.sql("UPDATE graft.db.rl2 SET v = v * 10 WHERE grp = 2")
      spark.sql("DELETE FROM graft.db.rl2 WHERE grp = 4")
      spark.sql("""MERGE INTO graft.db.rl2 t USING rl_merge_src s
                  |ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET v = s.v
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val viaRule = spark.table("graft.db.rl2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaRule == got)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft.warehouse")
      savedConf.foreach(spark.conf.set("spark.sql.catalog.graft.warehouse", _))
    }
  }

  test("partition evolution DDL works on V2 catalog identifiers") {
    // the parser's grammar must reach catalog-addressed tables
    // (ice.db.t), resolving through THAT catalog's warehouse — not only
    // graft.* names
    val whIce = java.nio.file.Files.createTempDirectory("whicepart").toString
    spark.conf.set("spark.sql.catalog.icepart", "graft.ice.connector.GraftCatalogPlugin")
    spark.conf.set("spark.sql.catalog.icepart.warehouse", whIce)
    val savedConf = spark.conf.getOption("spark.sql.catalog.graft.warehouse")
    spark.conf.unset("spark.sql.catalog.graft.warehouse")
    try {
      spark.sql("CREATE TABLE icepart.db.pevo (id BIGINT, cat STRING, v BIGINT)")
      spark.sql("INSERT INTO icepart.db.pevo SELECT id, 'a', id FROM range(0, 50)")
      spark.sql("ALTER TABLE icepart.db.pevo ADD PARTITION FIELD bucket(4, id)")
      val t = IceTable.load(new DirCatalog(whIce), TableIdentifier.parse("db.pevo"))
      assert(t.metadata.defaultSpec.fields.map(_.name) == Seq("id_bucket"))
      spark.sql("ALTER TABLE icepart.db.pevo DROP PARTITION FIELD bucket(4, id)")
      val t2 = IceTable.load(new DirCatalog(whIce), TableIdentifier.parse("db.pevo"))
      assert(t2.metadata.defaultSpec.fields.isEmpty)
      assert(spark.table("icepart.db.pevo").count() == 50)
    } finally {
      savedConf.foreach(spark.conf.set("spark.sql.catalog.graft.warehouse", _))
    }
  }

  test("ALTER TABLE ADD/DROP PARTITION FIELD evolves the spec in place") {
    table // force fixture + warehouse conf
    spark.sql("""CREATE TABLE graft.db.evo (id BIGINT, cat STRING, v BIGINT)
      PARTITIONED BY (cat)""")
    spark.sql("INSERT INTO graft.db.evo SELECT id, 'a', id * 2 FROM range(0, 50)")

    spark.sql("ALTER TABLE graft.db.evo ADD PARTITION FIELD bucket(4, id)")
    val t1 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.evo"))
    assert(t1.metadata.defaultSpec.fields.map(_.name) == Seq("cat", "id_bucket"))
    // old fields keep their ids across the evolution
    assert(t1.metadata.partitionSpecs.head.fields.head.fieldId ==
      t1.metadata.defaultSpec.fields.head.fieldId)

    // writes land in the NEW spec; reads span both layouts
    spark.sql("INSERT INTO graft.db.evo SELECT id, 'b', id * 2 FROM range(50, 80)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.evo")
      .collect().head.getLong(0) == 80L)
    val t2 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.evo"))
    val specIds = t2.newScan().planFiles().map(_.specId).distinct.sorted
    assert(specIds.size == 2, s"expected files in both specs, got $specIds")

    // drop by transform spec; name-derived resolution
    spark.sql("ALTER TABLE graft.db.evo DROP PARTITION FIELD bucket(4, id)")
    val t3 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.evo"))
    assert(t3.metadata.defaultSpec.fields.map(_.name) == Seq("cat"))
    assert(spark.sql("SELECT sum(v) AS s FROM graft.db.evo")
      .collect().head.getLong(0) == (0L until 80L).map(_ * 2).sum)
  }

  test("metadata log accrues on commit and new inspection relations resolve") {
    table // force fixture + warehouse conf
    spark.sql("CREATE TABLE graft.db.mlog (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.mlog SELECT id, id FROM range(0, 10)")
    spark.sql("INSERT INTO graft.db.mlog SELECT id, id FROM range(10, 20)")
    val t = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.mlog"))
    // create + 2 inserts = 3 commits; each appends the SUPERSEDED file
    val log = t.metadata.metadataLog
    assert(log.size >= 2, s"expected >=2 metadata-log entries, got ${log.size}")
    assert(log.map(_.metadataFile).distinct.size == log.size)
    log.foreach(e => assert(new java.io.File(e.metadataFile).exists(),
      s"logged metadata file must exist: ${e.metadataFile}"))
    // SQL inspection relations over the new tables
    assert(spark.sql(
      "SELECT sum(record_count) FROM graft.db.mlog.entries").head.getLong(0) == 20L)
    assert(spark.sql(
      "SELECT sum(record_count) FROM graft.db.mlog.all_files").head.getLong(0) == 20L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.mlog.metadata_log_entries").head.getLong(0)
      == log.size.toLong)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.mlog.position_deletes").head.getLong(0) == 0L)
    // the retention cap trims the oldest entries
    spark.sql("ALTER TABLE graft.db.mlog SET TBLPROPERTIES (" +
      "'write.metadata.previous-versions-max' = '2')")
    spark.sql("INSERT INTO graft.db.mlog SELECT id, id FROM range(20, 21)")
    val t2 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.mlog"))
    assert(t2.metadata.metadataLog.size == 2)
  }

  test("ALTER TABLE CREATE/DROP BRANCH and TAG manage refs through SQL") {
    table // force fixture + warehouse conf
    spark.sql("CREATE TABLE graft.db.refs (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.refs SELECT id, id * 2 FROM range(0, 20)")
    val t1 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.refs"))
    val first = t1.currentSnapshot.get.snapshotId

    spark.sql("ALTER TABLE graft.db.refs CREATE BRANCH dev")
    spark.sql("ALTER TABLE graft.db.refs CREATE TAG v1 AS OF VERSION " + first)
    val t2 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.refs"))
    assert(t2.refs("dev").refType == "branch")
    assert(t2.refs("v1").refType == "tag")
    assert(t2.refs("v1").snapshotId == first)

    // main moves on; the branch/tag still read the pinned state
    spark.sql("INSERT INTO graft.db.refs SELECT id, id * 2 FROM range(20, 30)")
    assert(spark.sql("SELECT count(*) FROM graft.db.refs").head.getLong(0) == 30)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.refs VERSION AS OF 'dev'").head.getLong(0) == 20)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.refs VERSION AS OF 'v1'").head.getLong(0) == 20)

    // kind-checked drops: DROP TAG on a branch errors
    assertThrows[Exception](
      spark.sql("ALTER TABLE graft.db.refs DROP TAG dev"))
    spark.sql("ALTER TABLE graft.db.refs DROP BRANCH dev")
    spark.sql("ALTER TABLE graft.db.refs DROP TAG v1")
    val t3 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.refs"))
    assert(!t3.refs.contains("dev") && !t3.refs.contains("v1"))
  }

  test("ALTER TABLE SET/DROP IDENTIFIER FIELDS declares row identity") {
    table // force fixture + warehouse conf
    spark.sql("CREATE TABLE graft.db.idf (id BIGINT NOT NULL, v BIGINT)")
    spark.sql("ALTER TABLE graft.db.idf SET IDENTIFIER FIELDS id")
    val t1 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.idf"))
    assert(t1.schema.identifierFieldIds ==
      Seq(t1.schema.findFieldByName("id").get.id))
    // nullable column refused
    assertThrows[Exception](
      spark.sql("ALTER TABLE graft.db.idf SET IDENTIFIER FIELDS v"))
    spark.sql("ALTER TABLE graft.db.idf DROP IDENTIFIER FIELDS")
    val t2 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.idf"))
    assert(t2.schema.identifierFieldIds.isEmpty)
  }

  test("ALTER TABLE WRITE ORDERED BY declares the sort order for new writes") {
    table // force fixture + warehouse conf
    spark.sql("CREATE TABLE graft.db.ordered (id BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE graft.db.ordered WRITE ORDERED BY v DESC NULLS LAST, id")
    val t1 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.ordered"))
    val order = t1.metadata.defaultSortOrder
    assert(order.orderId > 0 && order.fields.size == 2)
    assert(!order.fields.head.ascending && !order.fields.head.nullsFirst)
    assert(order.fields(1).ascending && order.fields(1).nullsFirst)

    // appends stamp the new order id on every data file
    spark.sql("INSERT INTO graft.db.ordered SELECT id, id * 7 % 100 FROM range(0, 1000)")
    val t2 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.ordered"))
    assert(t2.newScan().planFiles().nonEmpty)
    assert(t2.newScan().planFiles().forall(
      _.file.sortOrderId.contains(order.orderId)))

    // WRITE UNORDERED flips back to order 0
    spark.sql("ALTER TABLE graft.db.ordered WRITE UNORDERED")
    val t3 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.ordered"))
    assert(t3.metadata.defaultSortOrderId == 0)
    spark.sql("INSERT INTO graft.db.ordered SELECT id, id FROM range(1000, 1010)")
    val t4 = IceTable.load(new DirCatalog(warehouse), TableIdentifier.parse("db.ordered"))
    assert(t4.newScan().planFiles().exists(_.file.sortOrderId.forall(_ == 0)))
  }
}
