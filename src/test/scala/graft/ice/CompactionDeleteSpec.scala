package graft.ice

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice.catalog._
import graft.ice.expr.{Expr => E}
import graft.ice.manifest._
import graft.ice.meta.DataOperation
import graft.ice.types.{Literal, SparkConv}

/** Which data files compaction finds position deletes touching, and
  * deletes that name their data file under Spark's percent-encoded path
  * (as every position delete written before Spark paths were decoded
  * does). The warehouse path holds a space, so the encoded and the
  * manifest form of every data path differ. */
class CompactionDeleteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse = {
    val dir = java.nio.file.Files.createTempDirectory("compactwh").resolve("w h")
    java.nio.file.Files.createDirectories(dir)
    dir.toString
  }

  private lazy val spark = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      .config("spark.sql.catalog.ice.warehouse", warehouse)
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

  private def cat = new DirCatalog(warehouse)
  private def raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
  private def load(name: String) = IceTable.load(cat, TableIdentifier.parse(s"db.$name"))

  private def mkTable(name: String, df: DataFrame,
      props: Map[String, String] = Map.empty): IceTable = {
    val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"),
      SparkConv.fromSpark(df.schema), properties = props)
    t.append(spark).appendDataFrame(df)
    load(name)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val g = got.select(want.columns.map(col): _*)
    assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty,
      s"$what: ${g.count()} rows, oracle ${want.count()}")
  }

  /** Spark jobs `body` starts; the listener bus is async, so wait until
    * the count has held for a second. */
  private def jobsFor(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1
      var stable = 0
      while (stable < 10) {
        Thread.sleep(100)
        val c = jobs.get
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def dataPaths(t: IceTable): Set[String] =
    t.newScan().planFiles().map(f => ManifestAvro.stripFileScheme(f.file.filePath)).toSet

  private def posDeletes(t: IceTable): Seq[ManifestEntry] =
    t.planDeleteEntries(t.currentSnapshot.get)
      .filter(_.dataFile.content == FileContent.PositionDeletes)

  /** The form the touched set had before manifest bounds were used: one
    * distributed distinct over every non-DV delete file's rows. */
  private def readEveryDeleteFile(entries: Seq[ManifestEntry]): Set[String] =
    entries.flatMap(_.dataFile.referencedDataFile).map(ManifestAvro.stripFileScheme).toSet ++
      DeleteJoins.readPositionDeleteRows(spark, entries.filter(_.dataFile.contentOffset.isEmpty))
        .map(_.select("__dfile").distinct().collect().map(_.getString(0)).toSet)
        .getOrElse(Set.empty[String])

  /** Position-delete rows for `positions` of the one data file at
    * `dataPath`, naming it as Spark reports it with only the scheme
    * stripped (`…/w%20h/…`). */
  private def encodedDeleteRows(dataPath: String, positions: Long => Boolean): DataFrame = {
    val keep = udf(positions)
    spark.read.parquet(dataPath)
      .select(regexp_replace(col("_metadata.file_path"), "^file:/*", "/").as("file_path"),
        col("_metadata.row_index").as("pos"))
      .filter(keep(col("pos")))
  }

  test("file-granularity delete files name their data files from the manifest, with no job") {
    val t = mkTable("file_gran", raw.repartitionByRange(4, col("o_orderkey")),
      Map("write.delete.mode" -> "merge-on-read", "write.delete.granularity" -> "file"))
    assert(dataPaths(t).size == 4)
    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(500)))
    load("file_gran").delete(spark).deleteWherePositional(E.raw("o_orderkey % 97 = 0"))
    val dels = posDeletes(load("file_gran"))
    assert(dels.size > 4)
    var touched = Set.empty[String]
    val jobs = jobsFor { touched = load("file_gran").compact(spark).positionDeleteTargets(dels) }
    assert(jobs == 0, s"jobs: $jobs")
    assert(touched == readEveryDeleteFile(dels))
    assert(touched == dataPaths(load("file_gran")))

    // a delete file without path bounds must be read: it names two files
    val two = dataPaths(load("file_gran")).toSeq.sorted.take(2)
    val dir = java.nio.file.Files.createTempDirectory("spanning").toString + "/del"
    import spark.implicits._
    two.map(_ -> 1L).toDF("file_path", "pos").coalesce(1).write.parquet(dir)
    val delFile = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head
    write.SnapshotProducer.commit(load("file_gran"), spark, DataOperation.Delete, Nil,
      addedDeleteEntries = Seq(ManifestEntry(ManifestStatus.Added, None, None, None,
        DataFile(FileContent.PositionDeletes, delFile, "PARQUET", IndexedSeq.empty,
          recordCount = 2L, fileSizeInBytes = new java.io.File(delFile).length()))))
    val spanning = posDeletes(load("file_gran"))
    val read = jobsFor { touched = load("file_gran").compact(spark).positionDeleteTargets(spanning) }
    assert(read > 0, "the bound-less delete file must be read")
    assert(touched == readEveryDeleteFile(spanning))

    // the rewrite replaces every touched file and drops every delete file
    val before = dataPaths(load("file_gran"))
    val handDeleted = two.map(p => spark.read.parquet(p)
      .filter(col("_metadata.row_index") === 1L).select(raw.columns.map(col): _*))
      .reduce(_ unionByName _)
    val want = raw.filter("o_orderkey >= 500 AND o_orderkey % 97 != 0").exceptAll(handDeleted)
    load("file_gran").compact(spark).rewriteDataFiles(smallFileThreshold = 0L)
    val after = load("file_gran")
    assert(posDeletes(after).isEmpty)
    assert((before -- dataPaths(after)) == touched)
    assertSameRows(after.newScan().toDF(spark), want, "compacted")
  }

  for ((version, how) <- Seq(2 -> "position-delete file", 3 -> "deletion vector")) {
    test(s"a legacy $how under Spark's encoded path applies to toDF, SQL and compaction") {
      val name = s"legacy_v$version"
      val t = mkTable(name, raw.coalesce(1), Map("format-version" -> version.toString))
      val path = dataPaths(t).toSeq match { case Seq(p) => p }
      assert(path.contains("w h"), path)
      val deleted = (pos: Long) => pos % 5 == 0
      val rows = encodedDeleteRows(path, deleted).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.nonEmpty && rows.forall(_._1.contains("w%20h")))
      val entry =
        if (version == 2) {
          val dir = java.nio.file.Files.createTempDirectory("legacypos").toString + "/del"
          import spark.implicits._
          rows.toSeq.toDF("file_path", "pos").coalesce(1).write.parquet(dir)
          val file = new java.io.File(dir).listFiles().map(_.getPath)
            .filter(_.endsWith(".parquet")).head
          DataFile(FileContent.PositionDeletes, file, "PARQUET", IndexedSeq.empty,
            recordCount = rows.length.toLong, fileSizeInBytes = new java.io.File(file).length())
        } else {
          val bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
          rows.foreach(r => bm.addLong(r._2))
          val out = new java.io.ByteArrayOutputStream()
          bm.serialize(new java.io.DataOutputStream(out))
          val file = java.nio.file.Files.createTempDirectory("legacydv").toString + "/dv.puffin"
          val ref = Puffin.writeDVFile(file, Seq((rows.head._1, out.toByteArray,
            bm.getLongCardinality))) match { case Seq(r) => r }
          DataFile(FileContent.PositionDeletes, file, "PUFFIN", IndexedSeq.empty,
            recordCount = bm.getLongCardinality,
            fileSizeInBytes = new java.io.File(file).length(),
            referencedDataFile = Some(rows.head._1),
            contentOffset = Some(ref.offset), contentSizeInBytes = Some(ref.length))
        }
      write.SnapshotProducer.commit(load(name), spark, DataOperation.Delete, Nil,
        addedDeleteEntries = Seq(ManifestEntry(ManifestStatus.Added, None, None, None, entry)))

      val keep = udf((pos: Long) => !deleted(pos))
      val live = spark.read.parquet(path).filter(keep(col("_metadata.row_index")))
        .select(raw.columns.map(col): _*)
      assert(live.count() < raw.count())
      assertSameRows(load(name).newScan().toDF(spark), live, "toDF")
      assertSameRows(spark.table(s"ice.db.$name"), live, "SQL")
      assert(spark.sql(s"SELECT count(*) FROM ice.db.$name").head().getLong(0) == live.count())

      load(name).compact(spark).rewriteDataFiles(smallFileThreshold = 0L)
      val after = load(name)
      assert(posDeletes(after).isEmpty)
      assert(!dataPaths(after).contains(path), "the deleted-from file must be rewritten")
      assertSameRows(after.newScan().toDF(spark), live, "compacted")
    }
  }
}
