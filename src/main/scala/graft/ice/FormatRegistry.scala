package graft.ice

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.ice.manifest.{AvroData, ManifestAvro}

/** Reader/writer registry keyed by the manifest's `file_format` string
  * (S16) — the analogue of the reference's ReaderFactoryRegistry /
  * WriterFactoryRegistry (file_reader.h:103-113, file_writer.h:90-100).
  * PARQUET, AVRO and ORC are registered (the reference enumerates ORC
  * with no reader, file_format.h:34-40 — implemented here via Spark's
  * native ORC source; note ORC resolves columns BY NAME, so id-based
  * rename evolution only covers parquet/avro data files). PUFFIN is a
  * statistics/deletion-vector container (Puffin.scala reads DV blobs),
  * not a row source — requesting a PUFFIN row reader fails loudly.
  *
  * Readers are DISTRIBUTED: parquet/orc via Spark's native sources, Avro
  * via AvroData.readFiles (sync-marker splits, field-ID resolution,
  * executor tasks). Writers return the written file paths so callers can
  * register them in a manifest. */
object FormatRegistry {

  /** (session, read schema, file paths, name mapping) => DataFrame over
    * those files. The mapping (fieldId -> acceptable file-column names,
    * from schema.name-mapping.default) resolves id-less files; readers
    * that resolve purely by id/name may ignore it. */
  type Reader =
    (SparkSession, StructType, Seq[String], Map[Long, Seq[String]]) => DataFrame
  /** (rows, target dir) => paths of the files written. */
  type Writer = (DataFrame, String) => Seq[String]

  private val readers: Map[String, Reader] = Map(
    // sizes from one stat per file: an upsert's key read of the files it
    // just wrote, never a scan (toDF reads parquet with manifest sizes)
    "PARQUET" -> ((s, schema, paths, _) => FileListRelation.parquet(s,
      paths.map(p => p -> java.nio.file.Files.size(
        java.nio.file.Paths.get(ManifestAvro.stripFileScheme(p)))), schema)),
    "AVRO" -> ((s, schema, paths, nm) =>
      AvroData.readFiles(s, paths, schema, mappedNames = nm)),
    "ORC" -> readOrc _)

  /** ORC resolves columns BY NAME (the format carries no field ids), so a
    * file written before a rename still holds the OLD column name. With a
    * mapping (fieldId -> previous/alternate names — the scan threads both
    * schema-history renames and schema.name-mapping.default), the read
    * merges every file schema and COALESCEs each target field across its
    * current + mapped names: old-name files and new-name files resolve
    * row-by-row in one distributed read. Without a relevant mapping the
    * fast path (fixed read schema, no footer merge) is unchanged. */
  private def readOrc(s: SparkSession, schema: StructType, paths: Seq[String],
      nm: Map[Long, Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    import graft.ice.types.SparkConv
    def altsFor(f: org.apache.spark.sql.types.StructField): Seq[String] =
      if (f.metadata.contains(SparkConv.FieldIdKey))
        nm.getOrElse(f.metadata.getLong(SparkConv.FieldIdKey), Nil)
          .filterNot(_ == f.name)
      else Nil
    if (schema.fields.forall(altsFor(_).isEmpty)) s.read.schema(schema).orc(paths: _*)
    else {
      val inferred = s.read.option("mergeSchema", "true").orc(paths: _*)
      val have = inferred.schema.fieldNames.toSet
      val cols = schema.fields.map { f =>
        val candidates = (f.name +: altsFor(f)).distinct.filter(have.contains)
        candidates match {
          case Seq() => lit(null).cast(f.dataType).as(f.name)
          case Seq(one) => col(one).cast(f.dataType).as(f.name)
          case many => coalesce(many.map(n => col(n).cast(f.dataType)): _*).as(f.name)
        }
      }
      inferred.select(cols.toIndexedSeq: _*)
    }
  }

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

  val supportedFormats: Set[String] = readers.keySet

  private def lookup[A](m: Map[String, A], fmt: String, kind: String): A = {
    val key = fmt.toUpperCase(java.util.Locale.ROOT)
    m.getOrElse(key, throw new UnsupportedOperationException(
      s"no $kind registered for file format '$fmt' (PARQUET, AVRO and ORC " +
        "are implemented; PUFFIN is a deletion-vector/statistics container " +
        "— see Puffin.scala — not a row source)"))
  }

  def reader(fmt: String): Reader = lookup(readers, fmt, "reader")
  def writer(fmt: String): Writer = lookup(writers, fmt, "writer")

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
