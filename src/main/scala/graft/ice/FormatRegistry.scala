package graft.ice

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ice.manifest.AvroData

/** Writer registry keyed by the manifest's `file_format` string (S16) —
  * the analogue of the reference's WriterFactoryRegistry
  * (file_writer.h:90-100). PARQUET, AVRO and ORC are registered (the
  * reference enumerates ORC with no writer, file_format.h:34-40). PUFFIN
  * is a statistics/deletion-vector container (Puffin.scala reads DV
  * blobs), not a row format — requesting a PUFFIN writer fails loudly.
  * Data files of every registered format are read by the connector's
  * scan (`GraftBatchScan`), per split. Writers return the written file
  * paths so callers can register them in a manifest. */
object FormatRegistry {

  /** (rows, target dir) => paths of the files written. */
  type Writer = (DataFrame, String) => Seq[String]

  private val writers: Map[String, Writer] = Map(
    "PARQUET" -> { (df, dir) =>
      // each invocation writes a unique subdirectory (same scheme as
      // AppendOp's commitUuid dirs): the target dir may already hold files
      // from earlier writes, and a post-write listing of the whole dir
      // would hand those back to the caller for re-registration
      val sub = s"$dir/${java.util.UUID.randomUUID()}"
      df.write.parquet(sub)
      val d = java.nio.file.Paths.get(sub)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator.asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
    },
    "AVRO" -> ((df, dir) => AvroData.writeDir(df, dir)),
    "ORC" -> { (df, dir) =>
      val sub = s"$dir/${java.util.UUID.randomUUID()}"
      df.write.orc(sub)
      val d = java.nio.file.Paths.get(sub)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator.asScala.map(_.toString)
        .filter(_.endsWith(".orc")).toSeq.sorted
    })

  val supportedFormats: Set[String] = writers.keySet

  def writer(fmt: String): Writer =
    writers.getOrElse(fmt.toUpperCase(java.util.Locale.ROOT),
      throw new UnsupportedOperationException(
        s"no writer registered for file format '$fmt' (PARQUET, AVRO and ORC " +
          "are implemented; PUFFIN is a deletion-vector/statistics container " +
          "— see Puffin.scala — not a row format)"))

  /** (normalized path -> row count) for ORC files in ONE distributed job
    * (ORC footers aren't parsed driver-side the way parquet's are; the
    * registered formats without footer metrics get record counts only,
    * so metric pruning treats their files as unknown/included). A
    * zero-row file produces NO group at all — callers must getOrElse(0L),
    * never apply(). */
  def orcRowCounts(spark: SparkSession, paths: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.functions.{count, input_file_name, lit}
    if (paths.isEmpty) Map.empty
    else spark.read.orc(paths: _*)
      .groupBy(input_file_name().as("__f")).agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => (FilePaths.fromSpark(r.getString(0)), r.getLong(1)))
      .toMap
  }
}
