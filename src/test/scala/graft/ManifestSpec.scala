package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ice.manifest._
import graft.ice.types._

/** Mirrors manifest_list_reader_writer_test.cc / manifest_reader_writer_test.cc:
  * golden-file reads against the reference resources + write->read round trips. */
class ManifestSpec extends AnyFunSuite {
  private val res = "/root/reference/src/iceberg/test/resources"

  test("golden manifest list snap-7532614258660258098 (v1 partitioned)") {
    val files = ManifestAvro.readManifestList(
      s"$res/snap-7532614258660258098-1-eafd2972-f58e-4185-9237-6378f564787e.avro")
    assert(files.size == 2)
    val m0 = files(0)
    assert(m0.manifestPath.endsWith("eafd2972-f58e-4185-9237-6378f564787e-m1.avro"))
    assert(m0.manifestLength == 6185)
    assert(m0.partitionSpecId == 0)
    assert(m0.addedSnapshotId == 7532614258660258098L)
    assert(m0.addedFilesCount == Some(4))
    assert(m0.deletedFilesCount == Some(0))
    assert(m0.addedRowsCount == Some(6))
    assert(m0.partitions.size == 1)
    val p = m0.partitions.head
    assert(!p.containsNull)
    assert(p.containsNan == Some(false))
    assert(new String(p.lowerBound.get, "UTF-8") == "2022-02-22")
    assert(new String(p.upperBound.get, "UTF-8") == "2022-2-23")
    val m1 = files(1)
    assert(m1.deletedFilesCount == Some(2))
    assert(m1.deletedRowsCount == Some(6))
  }

  test("golden manifest list snap-4134160420377642835 (v1 complex types)") {
    val files = ManifestAvro.readManifestList(
      s"$res/snap-4134160420377642835-1-aeffe099-3bac-4011-bc17-5875210d8dc0.avro")
    assert(files.size == 2)
    assert(files(0).addedFilesCount == Some(1))
    assert(files(0).addedRowsCount == Some(2))
    assert(files(1).deletedRowsCount == Some(3))
    files.foreach { m =>
      assert(m.partitionSpecId == 0)
      assert(m.content == ManifestContent.Data)
    }
  }

  test("golden manifest 2ddf1bc9-m0 entries read (unpartitioned v2)") {
    val entries = ManifestAvro.readManifest(
      s"$res/2ddf1bc9-830b-4015-aced-c060df36f150-m0.avro",
      StructT(IndexedSeq.empty))
    assert(entries.nonEmpty)
    entries.foreach { e =>
      assert(e.dataFile.filePath.nonEmpty)
      assert(e.dataFile.recordCount > 0)
      assert(e.dataFile.partition.isEmpty)
    }
  }

  test("golden manifest 56357cd7-m4 entries read") {
    val entries = ManifestAvro.readManifest(
      s"$res/56357cd7-391f-4df8-aa24-e7e667da8870-m4.avro",
      StructT(IndexedSeq.empty))
    assert(entries.nonEmpty)
  }

  test("manifest write -> read round trip with partition tuple + inheritance") {
    val dir = java.nio.file.Files.createTempDirectory("manifest").toString
    val partType = StructT(IndexedSeq(
      NestedField(1000, "bkt", IntT, required = false),
      NestedField(1001, "day", DateT, required = false)))
    val entries = Seq(
      ManifestEntry(ManifestStatus.Added, None, None, None,
        DataFile(FileContent.Data, s"$dir/data-1.parquet", "PARQUET",
          IndexedSeq(3, 17486), recordCount = 100, fileSizeInBytes = 1234,
          valueCounts = Map(1 -> 100L, 2 -> 100L),
          nullValueCounts = Map(1 -> 0L, 2 -> 5L),
          lowerBounds = Map(1 -> Literal.long(1).serialize),
          upperBounds = Map(1 -> Literal.long(100).serialize),
          splitOffsets = Seq(4L),
          sortOrderId = Some(0))),
      ManifestEntry(ManifestStatus.Added, None, None, None,
        DataFile(FileContent.Data, s"$dir/data-2.parquet", "PARQUET",
          IndexedSeq(null, 17490), recordCount = 50, fileSizeInBytes = 999)))

    val mf = ManifestAvro.writeManifest(s"$dir/m0.avro", entries, partType,
      specId = 0, snapshotId = 42L, sequenceNumber = 7L)
    assert(mf.addedFilesCount == Some(2))
    assert(mf.addedRowsCount == Some(150))
    assert(mf.manifestLength > 0)
    // partition summaries: field 0 has a null, bounds over {3}; field 1 bounds 17486..17490
    assert(mf.partitions(0).containsNull)
    assert(!mf.partitions(1).containsNull)
    assert(Conversions.fromBytes(IntT, mf.partitions(0).lowerBound.get) == 3)
    assert(Conversions.fromBytes(DateT, mf.partitions(1).lowerBound.get) == 17486)
    assert(Conversions.fromBytes(DateT, mf.partitions(1).upperBound.get) == 17490)

    val back = ManifestAvro.readManifest(s"$dir/m0.avro", partType, Some(mf))
    assert(back.size == 2)
    // inheritance: null snapshot/sequence pick up the manifest's
    assert(back(0).snapshotId == Some(42L))
    assert(back(0).sequenceNumber == Some(7L))
    assert(back(0).dataFile.partition == IndexedSeq(3, 17486))
    assert(back(1).dataFile.partition == IndexedSeq(null, 17490))
    assert(back(0).dataFile.valueCounts == Map(1 -> 100L, 2 -> 100L))
    assert(back(0).dataFile.nullValueCounts == Map(1 -> 0L, 2 -> 5L))
    assert(Conversions.fromBytes(LongT, back(0).dataFile.lowerBounds(1)) == 1L)
    assert(back(0).dataFile.splitOffsets == Seq(4L))
    assert(back(0).dataFile.sortOrderId == Some(0))
    assert(back(1).dataFile.recordCount == 50)
  }

  test("manifest list write -> read round trip") {
    val dir = java.nio.file.Files.createTempDirectory("mlist").toString
    val mf = ManifestFile(
      manifestPath = s"$dir/m0.avro", manifestLength = 5000, partitionSpecId = 0,
      content = ManifestContent.Data, sequenceNumber = 3, minSequenceNumber = 1,
      addedSnapshotId = 99L, addedFilesCount = Some(2), existingFilesCount = Some(0),
      deletedFilesCount = Some(0), addedRowsCount = Some(150),
      existingRowsCount = Some(0), deletedRowsCount = Some(0),
      partitions = IndexedSeq(PartitionFieldSummary(
        containsNull = false, containsNan = Some(false),
        lowerBound = Some(Literal.int(3).serialize),
        upperBound = Some(Literal.int(9).serialize))))
    ManifestAvro.writeManifestList(s"$dir/snap-99.avro", Seq(mf),
      snapshotId = 99L, parentSnapshotId = Some(42L), sequenceNumber = 3)
    val back = ManifestAvro.readManifestList(s"$dir/snap-99.avro")
    assert(back.size == 1)
    val b = back.head
    assert(b.manifestPath == mf.manifestPath)
    assert(b.sequenceNumber == 3 && b.minSequenceNumber == 1)
    assert(b.addedSnapshotId == 99L)
    assert(b.addedFilesCount == Some(2))
    assert(b.partitions.size == 1)
    assert(Conversions.fromBytes(IntT, b.partitions.head.upperBound.get) == 9)
  }

  test("repeated manifest reads leave the global Avro reader cache unchanged") {
    // GenericData.get()'s fast-reader cache keys readers by each read's
    // parsed schema and never drops them: decoding through it would add
    // an entry per manifest read for the life of the JVM
    def globalReaderCacheSize(): Int = {
      val builder = org.apache.avro.generic.GenericData.get().getFastReaderBuilder()
      val f = classOf[org.apache.avro.io.FastReaderBuilder].getDeclaredField("readerCache")
      f.setAccessible(true)
      f.get(builder).asInstanceOf[java.util.Map[_, _]].size
    }
    val dir = java.nio.file.Files.createTempDirectory("mcache").toString
    val entries = (1 to 3).map(i => ManifestEntry(ManifestStatus.Added, None, None, None,
      DataFile(FileContent.Data, s"$dir/data-$i.parquet", "PARQUET",
        IndexedSeq.empty, recordCount = 10L * i, fileSizeInBytes = 100L * i)))
    val mf = ManifestAvro.writeManifest(s"$dir/m0.avro", entries,
      StructT(IndexedSeq.empty), specId = 0, snapshotId = 1L, sequenceNumber = 1L)
    ManifestAvro.writeManifestList(s"$dir/snap-1.avro", Seq(mf),
      snapshotId = 1L, parentSnapshotId = None, sequenceNumber = 1L)

    val before = globalReaderCacheSize()
    (1 to 50).foreach { _ =>
      assert(ManifestAvro.readManifestList(s"$dir/snap-1.avro").size == 1)
      assert(ManifestAvro.readManifest(s"$dir/m0.avro", StructT(IndexedSeq.empty),
        Some(mf)).map(_.dataFile.recordCount) == Seq(10L, 20L, 30L))
    }
    assert(globalReaderCacheSize() <= before)
  }

  test("decimal partition values round trip through fixed") {
    val dir = java.nio.file.Files.createTempDirectory("mandec").toString
    val partType = StructT(IndexedSeq(
      NestedField(1000, "dec", DecimalT(9, 2), required = false),
      NestedField(1001, "u", UuidT, required = false)))
    val uuid = java.util.UUID.fromString("f79c3e09-677c-4bbd-a479-3f349cb785e7")
    val entries = Seq(ManifestEntry(ManifestStatus.Added, None, None, None,
      DataFile(FileContent.Data, "f.parquet", "PARQUET",
        IndexedSeq(new java.math.BigDecimal("14.20"), uuid), 1, 1)))
    ManifestAvro.writeManifest(s"$dir/m.avro", entries, partType, 0, 1L, 1L)
    val back = ManifestAvro.readManifest(s"$dir/m.avro", partType)
    assert(back.head.dataFile.partition(0).asInstanceOf[java.math.BigDecimal]
      .compareTo(new java.math.BigDecimal("14.20")) == 0)
    assert(back.head.dataFile.partition(1) == uuid)
  }
}
