package graft.ice

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ice.manifest.{ManifestAvro, ManifestEntry}
import graft.ice.types.{Schema, SparkConv}

/** The delete-side joins the in-task masks (`PositionDeletes`,
  * `EqualityDeletes`) replaced, kept only as an oracle: delete files read
  * as DataFrames, deletion vectors expanded in a job, and deletes applied
  * by a broadcast or shuffled join sized from manifest record counts. */
object DeleteJoins {

  /** Broadcast a delete side of at most this many records, else shuffle. */
  val BroadcastRowCap: Long = 1000000L

  def sized(df: DataFrame, records: Long): DataFrame =
    if (records <= BroadcastRowCap) broadcast(df) else df.hint("SHUFFLE_HASH")

  /** (__dfile, __dpos) rows of deletion-vector entries, one task per vector. */
  def expandDeletionVectors(spark: SparkSession,
      entries: Seq[ManifestEntry]): Option[DataFrame] = {
    if (entries.isEmpty) return None
    import spark.implicits._
    val refs = entries.map { e =>
      (ManifestAvro.stripFileScheme(e.dataFile.filePath), e.dataFile.contentOffset.get,
        e.dataFile.contentSizeInBytes.get,
        ManifestAvro.stripFileScheme(e.dataFile.referencedDataFile.get))
    }
    Some(spark.createDataset(refs)
      .repartition(math.min(refs.size, spark.sparkContext.defaultParallelism))
      .flatMap { case (path, off, len, refFile) =>
        val it = graft.ice.manifest.Puffin.readDV(path, off, len).iterator()
        new Iterator[(String, Long)] {
          def hasNext: Boolean = it.hasNext
          def next(): (String, Long) = (refFile, it.next())
        }
      }.toDF("__dfile", "__dpos"))
  }

  /** Files of one container format as a DataFrame of `schema`, read by
    * Spark's own sources (Avro through `AvroData`); parquet columns
    * resolve by field id where `schema` carries ids. */
  def readFiles(spark: SparkSession, format: String, schema: StructType,
      paths: Seq[String]): DataFrame = format.toUpperCase(java.util.Locale.ROOT) match {
    case "AVRO" => graft.ice.manifest.AvroData.readFiles(spark, paths, schema)
    case "ORC" => spark.read.schema(schema).orc(paths: _*)
    case _ => FileListRelation.parquet(spark,
      paths.map(p => p -> java.nio.file.Files.size(java.nio.file.Paths.get(p))), schema)
  }

  /** (__dfile, __dpos) rows of position-delete FILE entries (never DVs). */
  def readPositionDeleteRows(spark: SparkSession,
      entries: Seq[ManifestEntry]): Option[DataFrame] = {
    if (entries.isEmpty) return None
    val posSchema = StructType(Seq(
      StructField("file_path", StringType), StructField("pos", LongType)))
    Some(entries.groupBy(_.dataFile.fileFormat.toUpperCase(java.util.Locale.ROOT))
      .map { case (fmt, es) =>
        readFiles(spark, fmt, posSchema,
          es.map(e => ManifestAvro.stripFileScheme(e.dataFile.filePath)))
      }.reduce(_ unionByName _)
      .select(FilePaths.storedColumn(col("file_path")).as("__dfile"),
        col("pos").as("__dpos")))
  }

  /** The key columns of one equality-delete file, by field id. */
  def readEqualityDeleteRows(spark: SparkSession, schema: Schema,
      e: ManifestEntry): DataFrame = {
    val eqFields = e.dataFile.equalityIds.flatMap(schema.findFieldById)
    readFiles(spark, e.dataFile.fileFormat, StructType(eqFields.map(SparkConv.toSparkField)),
      Seq(ManifestAvro.stripFileScheme(e.dataFile.filePath)))
  }

  /** `rows` without the rows any of `eqDeletes` deletes: one null-safe
    * anti join per delete file, on its key columns named in `schema`. */
  def antiJoinEquality(spark: SparkSession, rows: DataFrame, schema: Schema,
      eqDeletes: Seq[ManifestEntry]): DataFrame =
    eqDeletes.foldLeft(rows) { (g, e) =>
      val cols = e.dataFile.equalityIds.flatMap(schema.findFieldById(_).map(_.name))
      val dels = sized(readEqualityDeleteRows(spark, schema, e).select(cols.map(col): _*),
        e.dataFile.recordCount)
      g.join(dels, cols.map(c => g(c) <=> dels(c)).reduce(_ && _), "left_anti")
    }

  /** The position-delete tuples of `entries`, DVs expanded, as
    * (file_path, pos, delete_file_path): the `position_deletes` metadata
    * table's join form, for parquet delete files and DVs. */
  def positionDeleteTuples(spark: SparkSession, entries: Seq[ManifestEntry]): DataFrame = {
    import spark.implicits._
    val (dv, files) = entries.partition(_.dataFile.contentOffset.isDefined)
    val fileRows = files.map { e =>
      readPositionDeleteRows(spark, Seq(e)).get
        .select(col("__dfile").as("file_path"), col("__dpos").as("pos"),
          lit(e.dataFile.filePath).as("delete_file_path"))
    }
    val dvRows = expandDeletionVectors(spark, dv).map { df =>
      val dvPaths = dv.map(e => (ManifestAvro.stripFileScheme(e.dataFile.referencedDataFile.get),
        e.dataFile.filePath)).toDF("__dfile", "delete_file_path")
      df.join(broadcast(dvPaths), Seq("__dfile"))
        .select(col("__dfile").as("file_path"), col("__dpos").as("pos"), col("delete_file_path"))
    }
    (fileRows ++ dvRows).reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[(String, Long, String)].toDF("file_path", "pos", "delete_file_path"))
  }
}
