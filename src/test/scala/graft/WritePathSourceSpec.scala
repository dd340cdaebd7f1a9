package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the shape of the table layer's write paths in its sources: every
  * data and delete file goes through the one task-side writer
  * (`graft.ice.write.FileWriter`), so no write path lists a directory or
  * runs Spark's `DataFrameWriter` into one. A new site has to be added
  * here on purpose. */
class WritePathSourceSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft/ice")

  private lazy val sources: Map[String, String] = {
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repository root: ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toMap
    finally files.close()
  }

  /** Name of the class-member `def` enclosing offset `at` of `src`. */
  private def enclosingDef(src: String, at: Int): String = {
    val member = "(?m)^  (?:[A-Za-z\\[\\]]+ )*def\\s+([A-Za-z0-9_]+)".r
    val defs = member.findAllMatchIn(src.substring(0, at)).toSeq
    defs.lastOption.map(_.group(1)).getOrElse("")
  }

  test("Files.walk only in catalog purge and removeOrphanFiles") {
    val allowed = Set("catalog/Catalog.scala" -> "dropTable",
      "write/Ops.scala" -> "removeOrphanFiles")
    val found = for {
      (file, src) <- sources.toSeq
      m <- "Files\\.walk\\(".r.findAllMatchIn(src)
      // scaladoc mentions are not calls
      if !src.substring(src.lastIndexOf('\n', m.start) + 1, m.start).trim.startsWith("*")
    } yield file -> enclosingDef(src, m.start)
    assert(found.toSet.subsetOf(allowed), (found.toSet -- allowed).mkString(", "))
  }

  test("DataFrameWriter file sinks only at the listed sites") {
    // the format registry's writers (external files for addFiles) and
    // the partition-statistics file; table data and delete files never
    val allowed = Map("FormatRegistry.scala" -> 2, "write/Statistics.scala" -> 1)
    val writer = "(?<!ice)\\.write\\s*\\.".r
    val sink = "\\.(parquet|orc|save)\\(".r
    val found = sources.toSeq.flatMap { case (file, src) =>
      val n = writer.findAllMatchIn(src).count { m =>
        sink.findFirstIn(src.substring(m.start, math.min(src.length, m.start + 400))
          .split("\n\\s*\n").head).isDefined
      }
      Option.when(n > 0)(file -> n)
    }.toMap
    assert(found == allowed)
  }
}
