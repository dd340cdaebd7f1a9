package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice._
import graft.ice.catalog._
import graft.ice.types._

/** The driver's load-or-build helpers (`Tables.fixture`, `Tables.ensure`,
  * `Tables.once`): a failed build, gates included, publishes no table,
  * and the per-JVM memo runs each key once without serialising or
  * forbidding nested builds. */
class FixtureSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshCatalog(): DirCatalog =
    new DirCatalog(java.nio.file.Files.createTempDirectory("fixwh").toString)

  private def uniqueKey(name: String): String =
    s"${java.util.UUID.randomUUID()}/$name"

  private val rows = 10L

  /** Create `ident`, append `rows` rows (the first data commit), and
    * return the table. */
  private def createAndAppend(cat: Catalog, ident: TableIdentifier): IceTable = {
    val df = spark.range(rows).toDF("id")
    val t = IceTable.create(cat, ident, SparkConv.fromSpark(df.schema))
    t.append(spark).appendDataFrame(df)
    t
  }

  test("a build that throws after its first commit leaves no table; the next call builds") {
    val cat = freshCatalog()
    val ident = TableIdentifier(Seq("db"), "half_built")
    val builds = new AtomicInteger
    val err = intercept[IllegalStateException] {
      Tables.fixture(cat, ident) {
        builds.incrementAndGet()
        val t = createAndAppend(cat, ident)
        assert(cat.tableExists(ident) && t.currentSnapshot.isDefined)
        throw new IllegalStateException("build step failed")
      }
    }
    assert(err.getMessage == "build step failed")
    assert(!cat.tableExists(ident))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(cat.warehouse, "db", "half_built")),
      "the purge removes the partly written data files too")

    val t = Tables.fixture(cat, ident) { builds.incrementAndGet(); createAndAppend(cat, ident) }
    assert(builds.get == 2)
    assert(t.newScan().toDF(spark).count() == rows)
    // an existing table loads without building
    val again = Tables.fixture(cat, ident) { builds.incrementAndGet(); createAndAppend(cat, ident) }
    assert(builds.get == 2)
    assert(again.currentSnapshot.map(_.snapshotId) == t.currentSnapshot.map(_.snapshotId))
  }

  test("a gate failing after the commit drops the table, so every attempt re-runs the gate") {
    val cat = freshCatalog()
    val ident = TableIdentifier(Seq("db"), "gated")
    val gateRuns = new AtomicInteger
    def attempt(gatePasses: Boolean): Unit =
      Tables.ensure(cat, ident) {
        val t = createAndAppend(cat, ident)
        gateRuns.incrementAndGet()
        require(gatePasses && t.newScan().toDF(spark).count() == rows,
          "fixture gate failed")
      }
    for (_ <- 1 to 2) {
      val err = intercept[IllegalArgumentException](attempt(gatePasses = false))
      assert(err.getMessage.contains("fixture gate failed"))
      assert(!cat.tableExists(ident))
    }
    assert(gateRuns.get == 2)
    attempt(gatePasses = true)
    assert(gateRuns.get == 3 && cat.tableExists(ident))
    attempt(gatePasses = false) // the table now exists: no build, no gate
    assert(gateRuns.get == 3)
  }

  test("a failed drop is kept as a suppressed error of the build's error") {
    val ident = TableIdentifier(Seq("db"), "undroppable")
    val dropError = new java.io.UncheckedIOException(new java.io.IOException("disk gone"))
    val cat = new DirCatalog(freshCatalog().warehouse) {
      override def dropTable(ident: TableIdentifier, purge: Boolean): Boolean =
        throw dropError
    }
    val err = intercept[IllegalStateException](
      Tables.fixture(cat, ident)(throw new IllegalStateException("build failed")))
    assert(err.getMessage == "build failed")
    assert(err.getSuppressed.toSeq == Seq(dropError))
  }

  test("a sidecar whose gate fails is deleted with its checkpoint, so the next call runs the gate") {
    val root = java.nio.file.Files.createTempDirectory("sidecar")
    val out = root.resolve("_out").toString
    val ckpt = root.resolve("_ckpt").toString
    def exists(d: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(d))
    val runs = new AtomicInteger
    def attempt(gatePasses: Boolean): String =
      Tables.sidecar(out, ckpt) {
        runs.incrementAndGet()
        spark.range(rows).write.parquet(out)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckpt, "offsets"))
        require(gatePasses, "sidecar gate failed")
      }
    val err = intercept[IllegalArgumentException](attempt(gatePasses = false))
    assert(err.getMessage.contains("sidecar gate failed"))
    assert(!exists(out) && !exists(ckpt))
    assert(attempt(gatePasses = true) == out)
    assert(runs.get == 2 && spark.read.parquet(out).count() == rows)
    attempt(gatePasses = false) // the output exists: no run, no gate
    assert(runs.get == 2)
  }

  test("memoised builds run once per key per JVM; a failed one runs again") {
    val runs = new AtomicInteger
    val k1 = uniqueKey("a")
    val k2 = uniqueKey("b")
    assert((1 to 3).map(_ => Tables.once(k1) { runs.incrementAndGet(); "v1" }) ==
      Seq("v1", "v1", "v1"))
    assert(runs.get == 1)
    assert(Tables.once(k2) { runs.incrementAndGet(); "v2" } == "v2")
    assert(runs.get == 2)

    val k3 = uniqueKey("c")
    intercept[IllegalStateException](
      Tables.once[String](k3) { runs.incrementAndGet(); throw new IllegalStateException("x") })
    assert(Tables.once(k3) { runs.incrementAndGet(); "v3" } == "v3")
    assert(Tables.once(k3) { runs.incrementAndGet(); "other" } == "v3")
    assert(runs.get == 4)

    // the warehouse fixture form: one build, then no catalog work at all
    val sfDir = s"/fixture-spec/${java.util.UUID.randomUUID()}"
    try {
      val builds = new AtomicInteger
      def table(): IceTable = Tables.tpch(sfDir, "memo") { (cat, ident) =>
        builds.incrementAndGet(); createAndAppend(cat, ident)
      }
      val t = table()
      assert(table() eq t)
      assert(builds.get == 1)
    } finally {
      val wh = java.nio.file.Paths.get(Tables.warehouseDir(sfDir))
      if (java.nio.file.Files.exists(wh))
        java.nio.file.Files.walk(wh).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("a memoised call nested inside another build returns; a slow build blocks only its key") {
    // a chain of nested builds, each on its own key: with one shared map
    // this is where a build inside computeIfAbsent throws "Recursive update"
    val prefix = uniqueKey("nested")
    def chain(i: Int): Int =
      if (i == 64) 0 else Tables.once(s"$prefix/$i")(chain(i + 1) + 1)
    assert(chain(0) == 64)
    assert(chain(0) == 64) // memoised: served from the outermost key

    val slowKey = uniqueKey("slow")
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Thread(() => {
      Tables.once(slowKey) { started.countDown(); release.await(); "slow" }
      ()
    })
    slow.start()
    try {
      assert(started.await(30, TimeUnit.SECONDS))
      // another key is served while the slow build still runs
      assert(Tables.once(uniqueKey("fast"))("fast") == "fast")
    } finally release.countDown()
    slow.join(30000)
    assert(Tables.once(slowKey)("never") == "slow")
  }
}
