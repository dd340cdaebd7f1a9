package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the shape of the table layer's read paths in its sources: table
  * data files are read through the scan (`FileListRelation`, the
  * connector's readers) and delete files through `PositionDeletes`, so
  * `spark.read…parquet(`/`.orc(` appears only at the sites listed here.
  * A new site has to be added here on purpose. */
class ReadPathSourceSpec extends AnyFunSuite {

  private val roots = Seq("ice", "streaming").map(d => java.nio.file.Paths.get(s"src/main/scala/graft/$d"))

  private lazy val sources: Map[String, String] = roots.flatMap { root =>
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repository root: ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => s"${root.getFileName}/${root.relativize(p)}" ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toList
    finally files.close()
  }.toMap

  test("DataFrameReader parquet and ORC reads only at the listed sites") {
    val allowed = Map(
      // ORC row counts for addFiles
      "ice/FormatRegistry.scala" -> 1,
      // the snapshot_table import of an existing parquet directory
      "ice/connector/GraftCatalogPlugin.scala" -> 2,
      // the partition-statistics file
      "ice/MetadataTables.scala" -> 1,
      // enrichNanCounts' re-read of new float columns, until the writer
      // counts NaNs itself
      "ice/write/Ops.scala" -> 1,
      // the sink a streaming query ran into
      "streaming/StreamOps.scala" -> 1)
    val reader = "\\.read\\s*\\.".r
    val source = "\\.(parquet|orc)\\(".r
    val found = sources.toSeq.flatMap { case (file, src) =>
      val n = reader.findAllMatchIn(src).count { m =>
        val line = src.substring(src.lastIndexOf('\n', m.start) + 1, m.start).trim
        // imports, scaladoc and comments are not calls
        !line.startsWith("import") && !line.startsWith("*") && !line.startsWith("//") &&
          source.findFirstIn(src.substring(m.start, math.min(src.length, m.start + 400))
            .split("\n\\s*\n").head).isDefined
      }
      Option.when(n > 0)(file -> n)
    }.toMap
    assert(found == allowed)
  }
}
