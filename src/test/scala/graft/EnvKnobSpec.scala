package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the `SPARK_GRAFT_*` names the main sources read. Program
  * behaviour takes no switches from the environment: the allowed names
  * are the Bench/Verify/ListQueries/ScaleGen/Prof harness contract and
  * the scratch-directory deployment path. A new name has to be added
  * here on purpose. */
class EnvKnobSpec extends AnyFunSuite {

  private val harness = Set(
    // Bench
    "SF_DIR", "CPUS", "INITIAL_PARTITIONS", "ONLY", "REVERSE", "WARM_RUNS",
    "WIPE_SIDECAR", "KEEP_SIDECARS", "SHARED", "PROBE", "ISO_THRESHOLD_SEC",
    "ISO_RUNS", "ISO_FLOOR_SEC", "PRIOR_BENCH", "ISO_EXTRA", "ISO_REGRESS_CAP",
    "ISO_NOISE_FLOOR_SEC", "ISO_FORK", "NO_ISO", "FORK_TIMEOUT_SEC",
    // Verify
    "ASSERT_CLEAN",
    // Prof
    "PROF_CPUS", "PROF_SHUFFLE", "PROF_WIPE_SIDECARS")

  private val allowed = (harness ++ Set(
    // scratch directory for d9's multi-pass posting join
    "SCRATCH")).map("SPARK_GRAFT_" + _)

  test("src/main reads only the allow-listed SPARK_GRAFT_ names") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repository root: ${root.toAbsolutePath}")
    val name = "SPARK_GRAFT_[A-Z0-9_]+".r
    val files = java.nio.file.Files.walk(root)
    val found =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(p => name.findAllIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
        .toSet
      finally files.close()
    assert(found == allowed,
      s"unlisted: ${(found -- allowed).toSeq.sorted.mkString(", ")}; " +
        s"listed but unread: ${(allowed -- found).toSeq.sorted.mkString(", ")}")
  }
}
