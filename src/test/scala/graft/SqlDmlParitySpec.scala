package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ice._
import graft.ice.catalog._
import graft.ice.expr.{Expr => E}
import graft.ice.manifest.{FileContent, ManifestAvro}
import graft.ice.types.{Literal, SparkConv}

/** SQL row-level DML through the `graft` catalog equals the Scala API
  * and a plain-Spark oracle, on copy-on-write, v2 merge-on-read and v3
  * merge-on-read tables, in sessions with and without `GraftExtensions`.
  * Merge-on-read statements keep every original data file and delete
  * exactly the positions the Scala API deletes. */
class SqlDmlParitySpec extends AnyFunSuite {

  private val warehouse = java.nio.file.Files.createTempDirectory("whparity").toString
  private def cat = new DirCatalog(warehouse)
  private var n = 0

  private def withSession(extensions: Boolean)(body: SparkSession => Unit): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.catalog.graft", "graft.ice.connector.GraftCatalogPlugin")
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions") else b)
      .getOrCreate()
    try body(spark) finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private sealed trait Kind { def props: Map[String, String]; def v3: Boolean = false }
  private case object CoW extends Kind { val props = Map.empty[String, String] }
  private case object MoR2 extends Kind {
    val props = Seq("delete", "update", "merge").map(m => s"write.$m.mode" -> "merge-on-read").toMap
  }
  private case object MoR3 extends Kind {
    val props = MoR2.props
    override val v3 = true
  }

  private val base: Map[Long, Long] = (0L until 60L).map(id => id -> id * 2).toMap
  private val source: Map[Long, Long] = (25L until 75L).map(id => id -> id * 100).toMap

  /** db.<name> holding `base` in two data files (ids 0-29 and 30-59). */
  private def create(spark: SparkSession, kind: Kind): (TableIdentifier, IceTable) = {
    n += 1
    val ident = TableIdentifier(Seq("db"), s"t$n")
    val df = spark.range(0, 60).selectExpr("id", "id * 2 AS v")
    val t = IceTable.create(cat, ident, SparkConv.fromSpark(df.schema), properties = kind.props)
    if (kind.v3) t.upgradeFormatVersion(3)
    IceTable.load(cat, ident).append(spark)
      .appendDataFrame(df.repartitionByRange(2, col("id")))
    (ident, IceTable.load(cat, ident))
  }

  private def rows(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def deleted(spark: SparkSession, t: IceTable): Set[(String, Long)] =
    MetadataTables.positionDeletes(spark, t).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  private def dataFiles(t: IceTable): Set[String] =
    t.newScan().planFiles().map(_.file.filePath).toSet

  /** One statement: its SQL (`TBL` names the table), the Scala API
    * equivalent when there is one, and the oracle over `base`. */
  private final class Op(val name: String, val sql: String,
      val api: Option[(SparkSession, IceTable, Kind) => Unit], val oracle: Map[Long, Long])

  private def del(t: IceTable, spark: SparkSession, kind: Kind, f: graft.ice.expr.Expr): Unit =
    kind match {
      case CoW => t.delete(spark).deleteWhere(f)
      case MoR2 => t.delete(spark).deleteWherePositional(f)
      case MoR3 => t.delete(spark).deleteWhereDV(f)
    }

  private def merge(spark: SparkSession, t: IceTable, kind: Kind) = {
    val src = spark.range(25, 75).selectExpr("id", "id * 100 AS v")
    val m = t.merge(spark, src, Seq("id"))
    if (kind == CoW) m else m.withMergeOnRead()
  }

  private val srcSql = "(SELECT id, id * 100 AS v FROM range(25, 75))"

  private val ops: Seq[Op] = Seq(
    new Op("DELETE, structural predicate", "DELETE FROM TBL WHERE id >= 40",
      Some((s, t, k) => del(t, s, k, E.gtEq("id", Literal.long(40L)))),
      base.filter(_._1 < 40)),
    new Op("DELETE, raw predicate", "DELETE FROM TBL WHERE id % 3 = 0",
      Some((s, t, k) => del(t, s, k, E.raw("id % 3 = 0"))),
      base.filter(_._1 % 3 != 0)),
    new Op("UPDATE", "UPDATE TBL SET v = v + 1000 WHERE id < 10 OR id % 7 = 0",
      Some { (s, t, k) =>
        val f = E.raw("id < 10 OR id % 7 = 0")
        if (k == CoW) t.delete(s).updateWhere(f, Map("v" -> "v + 1000"))
        else t.delete(s).updateWhereMoR(f, Map("v" -> "v + 1000"))
      },
      base.map { case (id, v) => id -> (if (id < 10 || id % 7 == 0) v + 1000 else v) }),
    new Op("MERGE update-set and insert",
      s"MERGE INTO TBL t USING $srcSql s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.v WHEN NOT MATCHED THEN INSERT *",
      Some((s, t, k) => merge(s, t, k).whenMatchedUpdate(Map("v" -> "t.v + s.v"))
        .whenNotMatchedInsertAll().commit()),
      base.map { case (id, v) => id -> source.get(id).map(_ + v).getOrElse(v) } ++
        source.filter(_._1 >= 60)),
    new Op("MERGE update-all", s"MERGE INTO TBL t USING $srcSql s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET *",
      Some((s, t, k) => merge(s, t, k).whenMatchedUpdateAll().commit()),
      base.map { case (id, v) => id -> source.getOrElse(id, v) }),
    new Op("MERGE delete", s"MERGE INTO TBL t USING $srcSql s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE",
      Some((s, t, k) => merge(s, t, k).whenMatchedDelete().commit()),
      base.filter(kv => !source.contains(kv._1))),
    new Op("MERGE conditional clause and NOT MATCHED BY SOURCE",
      s"MERGE INTO TBL t USING $srcSql s ON t.id = s.id " +
        "WHEN MATCHED AND s.v >= 5000 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED BY SOURCE AND t.id < 10 THEN DELETE",
      None,
      base.flatMap { case (id, v) => source.get(id) match {
        case Some(sv) => if (sv >= 5000) None else Some(id -> sv)
        case None => if (id < 10) None else Some(id -> v)
      } } ++ source.filter(_._1 >= 60)))

  private def checkAll(spark: SparkSession, label: String): Unit =
    for (kind <- Seq(CoW, MoR2, MoR3); op <- ops) {
      val what = s"$label, $kind, ${op.name}"
      val (ident, t0) = create(spark, kind)
      val before = t0.currentSnapshot.get.snapshotId
      val originals = dataFiles(t0)
      spark.sql(op.sql.replace("TBL", s"graft.db.${ident.name}"))
      val viaSql = IceTable.load(cat, ident)
      val sqlRows = rows(spark.table(s"graft.db.${ident.name}"))
      assert(sqlRows == op.oracle, s"$what: SQL rows differ from the oracle")
      if (kind != CoW) {
        assert(originals.subsetOf(dataFiles(viaSql)), s"$what: an original data file was rewritten")
        val dels = viaSql.planDeleteEntries(viaSql.currentSnapshot.get)
          .filter(_.dataFile.content == FileContent.PositionDeletes)
        assert(dels.forall(_.dataFile.fileFormat == (if (kind.v3) "PUFFIN" else "PARQUET")),
          s"$what: delete formats ${dels.map(_.dataFile.fileFormat)}")
        if (kind.v3) {
          val perFile = dels.groupBy(_.dataFile.referencedDataFile)
          assert(perFile.values.forall(_.size == 1), s"$what: a data file has two DVs")
        }
      }
      op.api.foreach { api =>
        // the Scala API from the same base: roll back, then run it
        val sqlDeleted = if (kind == CoW) Set.empty[(String, Long)] else {
          // the catalog's inspection table: one input partition per delete file
          val pd = spark.table(s"graft.db.${ident.name}.position_deletes")
          val splits = pd.queryExecution.executedPlan.collectLeaves().collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions.size
          }
          val nDeleteFiles = viaSql.planDeleteEntries(viaSql.currentSnapshot.get)
            .count(_.dataFile.content == FileContent.PositionDeletes)
          assert(splits == Seq(nDeleteFiles), s"$what: position_deletes splits $splits")
          val viaCatalog = pd.collect().map(r => (r.getString(0), r.getLong(1))).toSet
          assert(viaCatalog == deleted(spark, viaSql), s"$what: position_deletes through SQL")
          viaCatalog
        }
        viaSql.manageSnapshots().rollbackTo(before)
        val t = IceTable.load(cat, ident)
        api(spark, t, kind)
        val viaApi = IceTable.load(cat, ident)
        assert(rows(viaApi.newScan().toDF(spark)) == op.oracle, s"$what: Scala API rows")
        if (kind != CoW)
          assert(deleted(spark, viaApi) == sqlDeleted,
            s"$what: (file_path, pos) deleted differ from the Scala API's")
      }
    }

  test("SQL DML equals the Scala API and the oracle without GraftExtensions") {
    withSession(extensions = false)(checkAll(_, "no extensions"))
  }

  test("SQL DML equals the Scala API and the oracle with GraftExtensions") {
    withSession(extensions = true)(checkAll(_, "extensions"))
  }

  test("a row-level commit after a concurrent append: serializable fails, snapshot passes") {
    withSession(extensions = false) { spark =>
      for (kind <- Seq(CoW, MoR2); isolation <- Seq("serializable", "snapshot")) {
        val (ident, t) = create(spark, kind)
        t.commit(m => m.copy(properties = m.properties +
          ("write.update.isolation-level" -> isolation)))
        val name = s"graft.db.${ident.name}"
        val plan = spark.sessionState.sqlParser.parsePlan(
          s"UPDATE $name SET v = -1 WHERE id < 10")
        // analysis loads the table; the append lands before the write commits
        val qe = new org.apache.spark.sql.execution.QueryExecution(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan,
          mode = org.apache.spark.sql.execution.CommandExecutionMode.SKIP)
        qe.assertAnalyzed()
        IceTable.load(cat, ident).append(spark)
          .appendDataFrame(spark.range(1000, 1005).selectExpr("id - 1000 AS id", "id AS v"))
        if (isolation == "serializable") {
          val e = intercept[Exception](qe.executedPlan.executeCollect())
          val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(x => String.valueOf(x.getMessage)).toSeq
          assert(msgs.exists(_.contains("serializable isolation violated")),
            s"$kind: ${msgs.mkString("; ")}")
          assert(rows(spark.table(name)).count(_._2 == -1L) == 0, s"$kind: nothing updated")
        } else {
          qe.executedPlan.executeCollect()
          val got = spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1)))
          assert(got.count(_._2 == -1L) == 10, s"$kind: the planned rows are updated")
          assert(got.count(_._2 >= 1000L) == 5, s"$kind: the concurrent rows survive")
        }
      }
    }
  }

  test("a delta MERGE into a partitioned table writes each row under its partition") {
    withSession(extensions = false) { spark =>
      spark.sql("""CREATE TABLE graft.db.pmor (id BIGINT, cat STRING, v BIGINT)
        |PARTITIONED BY (cat, bucket(4, id))
        |TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')""".stripMargin)
      spark.sql("INSERT INTO graft.db.pmor SELECT id, CAST(id % 3 AS STRING), id FROM range(0, 60)")
      val before = dataFiles(IceTable.load(cat, TableIdentifier(Seq("db"), "pmor")))
      spark.sql("""MERGE INTO graft.db.pmor t
        |USING (SELECT id, CAST(id % 3 AS STRING) AS cat, -id AS v FROM range(30, 90)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val t = IceTable.load(cat, TableIdentifier(Seq("db"), "pmor"))
      assert(before.subsetOf(dataFiles(t)))
      val oracle = (0L until 90L).map(id => (id, (id % 3).toString, if (id < 30) id else -id)).toSet
      val got = spark.table("graft.db.pmor").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == oracle)
      // every data file's live rows belong to its partition tuple
      t.newScan().planFiles().foreach { task =>
        val cats = t.newScan().restrictFiles(Set(task.file.filePath)).toDF(spark)
          .select("cat").distinct().collect().map(_.getString(0))
        assert(cats.forall(_ == task.file.partition.head.toString), task.file.filePath)
      }
    }
  }

  test("a delta UPDATE spanning several splits of one file writes one DV per file") {
    withSession(extensions = false) { spark =>
      val big = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey").coalesce(1)
      val ident = TableIdentifier(Seq("db"), "dvsplits")
      val t = IceTable.create(cat, ident, SparkConv.fromSpark(big.schema),
        properties = MoR2.props ++ Map(
          "write.parquet.row-group-size-bytes" -> "16384",
          "read.split.target-size" -> "32768"))
      t.upgradeFormatVersion(3)
      IceTable.load(cat, ident).append(spark).appendDataFrame(big)
      val files = IceTable.load(cat, ident).newScan().planFiles()
      assert(files.size == 1)
      assert(spark.sql("SELECT _pos FROM graft.db.dvsplits").rdd.getNumPartitions > 1,
        "the file must read as several splits")
      spark.sql("UPDATE graft.db.dvsplits SET o_totalprice = -1 WHERE o_orderkey % 4 = 0")
      spark.sql("UPDATE graft.db.dvsplits SET o_totalprice = -2 WHERE o_orderkey % 6 = 0")
      val after = IceTable.load(cat, ident)
      assert(files.map(_.file.filePath).toSet.subsetOf(dataFiles(after)))
      val dvs = after.planDeleteEntries(after.currentSnapshot.get)
      assert(dvs.nonEmpty && dvs.forall(_.dataFile.fileFormat == "PUFFIN"))
      val perFile = dvs.groupBy(e => ManifestAvro.stripFileScheme(e.dataFile.referencedDataFile.get))
      assert(perFile.values.forall(_.size == 1), s"DVs per file: ${perFile.view.mapValues(_.size).toMap}")
      val oracle = big.collect().map { r =>
        val k = r.getLong(0)
        k -> (if (k % 6 == 0) -2.0 else if (k % 4 == 0) -1.0 else r.getDouble(1))
      }.toMap
      val got = spark.table("graft.db.dvsplits").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == oracle)
    }
  }
}
