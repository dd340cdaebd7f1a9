package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ice.io.{InMemoryFileIO, LocalFileIO}
import graft.ice.manifest._
import graft.ice.meta._
import graft.ice.types._

/** S15: the metadata plane (metadata JSON, manifests, manifest lists)
  * runs entirely through the FileIO seam — proven by round-tripping every
  * artifact against a map-backed store with no filesystem underneath
  * (reference file_io.h: the same seam an object-store impl plugs into). */
class FileIOSpec extends AnyFunSuite {

  private val partType = StructT(IndexedSeq(
    NestedField(1000, "bkt", IntT, required = false)))

  private def entry = ManifestEntry(ManifestStatus.Added, None, None, None,
    DataFile(FileContent.Data, "/data/f1.parquet", "PARQUET",
      IndexedSeq(3), recordCount = 10, fileSizeInBytes = 1234,
      valueCounts = Map(1 -> 10L),
      lowerBounds = Map(1 -> Literal.long(1).serialize),
      upperBounds = Map(1 -> Literal.long(9).serialize)))

  test("manifest + manifest list round-trip through a memory-only FileIO") {
    val io = new InMemoryFileIO
    val mf = ManifestAvro.writeManifest("/mem/m.avro", Seq(entry), partType,
      specId = 0, snapshotId = 7L, sequenceNumber = 1L, io = io)
    assert(io.exists("/mem/m.avro"))
    assert(mf.manifestLength == io.length("/mem/m.avro"))
    val back = ManifestAvro.readManifest("/mem/m.avro", partType, Some(mf), io = io)
    assert(back.size == 1 && back.head.dataFile.partition == IndexedSeq(3))
    assert(ManifestAvro.fileMetadata("/mem/m.avro", io = io)
      .get("format-version").contains("2"))

    ManifestAvro.writeManifestList("/mem/list.avro", Seq(mf), 7L, None, 1L, io = io)
    val files = ManifestAvro.readManifestList("/mem/list.avro", io = io)
    assert(files.size == 1 && files.head.manifestPath == "/mem/m.avro")

    // nothing leaked to the local filesystem
    assert(!LocalFileIO.exists("/mem/m.avro") && !LocalFileIO.exists("/mem/list.avro"))
    assert(io.paths == Set("/mem/m.avro", "/mem/list.avro"))
  }

  test("format registry: parquet+avro+orc registered, puffin fails loudly") {
    import graft.ice.FormatRegistry
    assert(FormatRegistry.supportedFormats == Set("PARQUET", "AVRO", "ORC"))
    FormatRegistry.writer("avro") // case-insensitive lookup
    FormatRegistry.writer("orc")
    // PUFFIN is a DV/statistics container (read by Puffin.scala), never
    // a row format
    val e = intercept[UnsupportedOperationException](FormatRegistry.writer("PUFFIN"))
    assert(e.getMessage.contains("PUFFIN"))
  }

  test("commit race through the FileIO seam: one winner, losers see false") {
    // the metadata-commit primitive (writeIfAbsent) arbitrates the race
    // with NO java.nio involvement on the memory impl — the shape an
    // object-store conditional put slots into
    val io = new InMemoryFileIO
    val path = "/mem/tbl/metadata/v2.metadata.json"
    val winners = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        if (io.writeIfAbsent(path, s"writer-$i".getBytes("UTF-8")))
          winners.incrementAndGet()
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(winners.get == 1, s"exactly one committer must win, got ${winners.get}")
    // the committed content is one writer's payload, not a torn mix
    assert(new String(io.readBytes(path), "UTF-8").matches("writer-\\d"))
    // a later retry against the same path still loses cleanly
    assert(!io.writeIfAbsent(path, "late".getBytes("UTF-8")))
    assert(!LocalFileIO.exists(path))

    // atomicSwap: staged file replaces the target and the stage vanishes
    io.writeAtomic("/mem/stage.tmp", "v2".getBytes("UTF-8"))
    io.writeAtomic("/mem/live", "v1".getBytes("UTF-8"))
    io.atomicSwap("/mem/stage.tmp", "/mem/live")
    assert(new String(io.readBytes("/mem/live"), "UTF-8") == "v2")
    assert(!io.exists("/mem/stage.tmp"))

    // the local impl agrees on the contract (hard-link create-new)
    val dir = java.nio.file.Files.createTempDirectory("iorace").toString
    assert(LocalFileIO.writeIfAbsent(s"$dir/v2.json", "a".getBytes))
    assert(!LocalFileIO.writeIfAbsent(s"$dir/v2.json", "b".getBytes))
    assert(new String(LocalFileIO.readBytes(s"$dir/v2.json")) == "a")
  }

  test("metadata JSON round-trips through a memory-only FileIO") {
    val io = new InMemoryFileIO
    val schema = Schema(0, IndexedSeq(
      NestedField(1, "id", LongT, required = true)))
    val m = TableMetadata.newTable("/mem/tbl", schema,
      properties = Map("k" -> "v"))
    TableMetadataIO.write("/mem/tbl/metadata/v1.metadata.json", m, io = io)
    val back = TableMetadataIO.read("/mem/tbl/metadata/v1.metadata.json", io = io)
    assert(back.tableUuid == m.tableUuid)
    assert(back.properties.get("k").contains("v"))
    assert(!LocalFileIO.exists("/mem/tbl/metadata/v1.metadata.json"))
  }

  test("HadoopFileIO serves the metadata plane through hadoop FileSystem") {
    val io = new graft.ice.io.HadoopFileIO(new org.apache.hadoop.conf.Configuration())
    val dir = java.nio.file.Files.createTempDirectory("hadoopio").toString

    // bytes + atomic replace + exclusive create, through hadoop file://
    io.writeAtomic(s"$dir/meta.json", "v1".getBytes("UTF-8"))
    io.writeAtomic(s"$dir/meta.json", "v2".getBytes("UTF-8"))
    assert(new String(io.readBytes(s"$dir/meta.json"), "UTF-8") == "v2")
    assert(io.writeIfAbsent(s"$dir/v3.json", "first".getBytes("UTF-8")))
    assert(!io.writeIfAbsent(s"$dir/v3.json", "second".getBytes("UTF-8")))
    assert(new String(io.readBytes(s"$dir/v3.json"), "UTF-8") == "first")
    assert(io.length(s"$dir/v3.json") == 5L)

    // a MANIFEST LIST (avro container, needs seekable reads) round-trips
    val mf = graft.ice.manifest.ManifestFile(
      manifestPath = s"$dir/m0.avro", manifestLength = 10L,
      partitionSpecId = 0, addedSnapshotId = 42L,
      addedFilesCount = Some(1), existingFilesCount = Some(0),
      deletedFilesCount = Some(0), addedRowsCount = Some(100L),
      existingRowsCount = Some(0L), deletedRowsCount = Some(0L))
    graft.ice.manifest.ManifestAvro.writeManifestList(
      s"$dir/snap.avro", Seq(mf), snapshotId = 42L, parentSnapshotId = None,
      sequenceNumber = 1L, io = io)
    val back = graft.ice.manifest.ManifestAvro.readManifestList(s"$dir/snap.avro", io = io)
    assert(back.map(m => (m.manifestPath, m.addedSnapshotId)) ==
      IndexedSeq((s"$dir/m0.avro", 42L)))

    io.atomicSwap(s"$dir/v3.json", s"$dir/meta.json")
    assert(new String(io.readBytes(s"$dir/meta.json"), "UTF-8") == "first")
    assert(!io.exists(s"$dir/v3.json"))
  }
}
