package graft.pbf

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.OsmKind

class PbfReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fixture = "/root/reference/tests/fixtures/niue-230612.osm.pbf"

  test("header probe: features and writing program (FIXTURES.md §1)") {
    val h = PbfRead.readHeader(spark, fixture)
    assert(h.requiredFeatures.toSet == Set("OsmSchema-V0.6", "DenseNodes"))
    assert(h.optionalFeatures.contains("Sort.Type_then_ID"))
    assert(h.writingProgram.startsWith("osmium"))
  }

  test("file-magic validation rejects non-PBF inputs (reference src/lib.rs:77-102)") {
    intercept[Exception](PbfRead.readHeader(spark, "/root/reference/tests/fixtures/text"))
    intercept[Exception](PbfRead.readHeader(spark, "/root/reference/tests/fixtures/empty"))
  }

  test("fixture decodes to exact reference counts: 41861 nodes / 3014 ways / 125 relations") {
    val ds = PbfRead.read(spark, fixture).cache()
    val counts = ds.groupBy("kind").count().collect()
      .map(r => r.getByte(0) -> r.getLong(1)).toMap
    assert(counts(OsmKind.Node) == 41861L)
    assert(counts(OsmKind.Way) == 3014L)
    assert(counts(OsmKind.Relation) == 125L)

    // extent matches the independently-decoded fixture bbox (FIXTURES.md §1)
    val ext = ds.filter($"kind" === OsmKind.Node)
      .agg(min("lat7"), max("lat7"), min("lon7"), max("lon7")).head()
    assert(ext.getLong(0) == -193548665L && ext.getLong(1) == -187534559L)
    assert(ext.getLong(2) == -1701595029L && ext.getLong(3) == -1695647229L)

    // the 14 admin relations + the 1 boundary-without-admin_level negative
    val rel = ds.filter($"kind" === OsmKind.Relation)
      .select($"id", explode($"tags").as("t"))
      .select($"id", $"t.k", $"t.v")
    // r3548694 has boundary=administrative but NO admin_level — the J1
    // predicate must therefore require admin_level presence to match the
    // golden 14-relation set
    val boundaries = rel.filter($"k" === "boundary" && $"v" === "administrative")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(boundaries == (1558543L to 1558556L).toSet + 3548694L)
    val withLevel = rel.filter($"k" === "admin_level")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(boundaries.intersect(withLevel) == (1558543L to 1558556L).toSet)

    // country relation has the admin_centre member node 448768937
    val niue = ds.filter($"kind" === OsmKind.Relation && $"id" === 1558556L).head()
    assert(niue.members.exists(m => m.role == "admin_centre" && m.ref == 448768937L))
    ds.unpersist()
  }

  test("way refs are ordered and resolve to existing nodes") {
    val ds = PbfRead.read(spark, fixture)
    val way = ds.filter($"kind" === OsmKind.Way).head()
    val refs = way.refs
    assert(refs.length >= 2)
    val nodeIds = ds.filter($"kind" === OsmKind.Node).select("id")
      .as[Long].collect().toSet
    assert(refs.forall(nodeIds.contains), "every way ref resolves")
  }

  test("distributed frame index ≡ driver index on the fixture (multi-split)") {
    val driver = PbfRead.scanFrames(spark, fixture).filter(_.blobType == "OSMData")
    val dist = PbfRead.scanFramesDistributed(spark, fixture, splitBytes = 32 << 10)
      .collect().sortBy(_.offset).toSeq
    assert(dist == driver)
  }

  test("planet-shaped synthetic file (>= 1 GiB, many frames) indexes in parallel") {
    val path = "/tmp/graft-test-bigpbf.osm.pbf"
    val nFrames = 11000
    // ~100 KiB of xorshift bytes: incompressible, so each frame stays
    // ~100 KiB; the index never decodes payloads
    val payload = new Array[Byte](100 << 10)
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < payload.length) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17
      payload(i) = h.toByte
      i += 1
    }
    val dataFrame = PbfWrite.frame("OSMData", payload)
    val headerBlock = new PbfWrite.Out
    headerBlock.str(4, "OsmSchema-V0.6")
    val headerFrame = PbfWrite.frame("OSMHeader", headerBlock.toArray)
    val os = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path), 1 << 20)
    os.write(headerFrame)
    (0 until nFrames).foreach(_ => os.write(dataFrame))
    os.close()
    try {
      val fileLen = new java.io.File(path).length()
      assert(fileLen >= (1L << 30), s"need >= 1 GiB, got $fileLen")
      val t0 = System.nanoTime()
      val dist = PbfRead.scanFramesDistributed(spark, path, splitBytes = 32 << 20)
        .collect()
      info(f"indexed $nFrames frames of a ${fileLen / 1e9}%.2f GB file " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.2f s across 34 splits")
      assert(dist.length == nFrames)
      val driver = PbfRead.scanFrames(spark, path).filter(_.blobType == "OSMData")
      assert(dist.sortBy(_.offset).toSeq == driver)
    } finally new java.io.File(path).delete()
  }

  test("read() through the DISTRIBUTED index path decodes end-to-end") {
    // a valid multi-frame file: one incompressible 8k-node dense block
    // repeated (ids repeat across frames — read() does not dedupe, so
    // the expected count is exact), indexed by the split-search path
    // via the threshold override and fully decoded
    val rnd = new scala.util.Random(7)
    val nodes = (0 until 8000).map { i =>
      graft.model.OsmEntity(OsmKind.Node, i.toLong, 1, visible = true,
        Some(rnd.nextLong(1800000001L) - 900000000L),
        Some(rnd.nextLong(3600000001L) - 1800000000L),
        1686600000000L, 1L, 1, "u", Nil, Nil, Nil)
    }
    val block = PbfWrite.encodeBlock(nodes) // a complete OSMData frame
    val headerBlock = new PbfWrite.Out
    headerBlock.str(4, "OsmSchema-V0.6")
    headerBlock.str(4, "DenseNodes")
    val path = "/tmp/graft-test-distread.osm.pbf"
    val os = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path), 1 << 20)
    os.write(PbfWrite.frame("OSMHeader", headerBlock.toArray))
    val nFrames = 40
    (0 until nFrames).foreach(_ => os.write(block))
    os.close()
    val prev = sys.props.get("graft.pbf.distScanThreshold")
    sys.props("graft.pbf.distScanThreshold") = "1048576"
    try {
      assert(new java.io.File(path).length() > 2L * 1048576,
        "file must be over the (overridden) distributed threshold")
      val ds = PbfRead.read(spark, path)
      assert(ds.count() == nFrames.toLong * 8000)
      // spot-check content decoded correctly through the parallel index
      val one = ds.filter($"id" === 4242L).collect()
      assert(one.length == nFrames && one.forall(_.lat7 == nodes(4242).lat7))
    } finally {
      prev match {
        case Some(v) => sys.props("graft.pbf.distScanThreshold") = v
        case None => sys.props.remove("graft.pbf.distScanThreshold")
      }
      new java.io.File(path).delete()
    }
  }

  test("non-type-first BlobHeaders are detected and routed off the signature search") {
    // legal protobuf, unusual field order: datasize BEFORE type — the
    // split signature cannot find it, so the probe must say false (the
    // sequential index, which parses any order, still reads it)
    def file(swapped: Boolean): String = {
      val payload = Array.fill[Byte](64)(7)
      val blob = new PbfWrite.Out
      blob.bytes(1, payload) // raw blob
      val bb = blob.toArray
      val hdr = new PbfWrite.Out
      if (swapped) { hdr.int(3, bb.length); hdr.str(1, "OSMData") }
      else { hdr.str(1, "OSMData"); hdr.int(3, bb.length) }
      val hb = hdr.toArray
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte]((hb.length >>> 24).toByte, (hb.length >>> 16).toByte,
        (hb.length >>> 8).toByte, hb.length.toByte))
      out.write(hb); out.write(bb)
      val p = s"/tmp/graft-test-fieldorder-$swapped.pbf"
      java.nio.file.Files.write(java.nio.file.Paths.get(p), out.toByteArray)
      p
    }
    assert(PbfRead.typeFirstHeaders(spark, file(swapped = false)))
    val odd = file(swapped = true)
    assert(!PbfRead.typeFirstHeaders(spark, odd))
    // a file with NO data frame at all (e.g. only OSMHeader frames) is
    // INCONCLUSIVE → false, routing to the sequential index
    val headerOnly = {
      val blob = new PbfWrite.Out
      blob.bytes(1, Array.fill[Byte](16)(1))
      val bb = blob.toArray
      val hdr = new PbfWrite.Out
      hdr.str(1, "OSMHeader"); hdr.int(3, bb.length)
      val hb = hdr.toArray
      val out = new java.io.ByteArrayOutputStream()
      for (_ <- 0 until 6) { // several concatenated header frames
        out.write(Array[Byte]((hb.length >>> 24).toByte, (hb.length >>> 16).toByte,
          (hb.length >>> 8).toByte, hb.length.toByte))
        out.write(hb); out.write(bb)
      }
      val p = "/tmp/graft-test-headeronly.pbf"
      java.nio.file.Files.write(java.nio.file.Paths.get(p), out.toByteArray)
      p
    }
    assert(!PbfRead.typeFirstHeaders(spark, headerOnly))
    // the sequential index parses it regardless of field order
    val fr = PbfRead.scanFrames(spark, odd)
    assert(fr.map(f => (f.blobType, f.dataLen)) == Seq(("OSMData", 66)))
  }

  test("granularity != 100 with negative coords floors (agrees with the header bbox path)") {
    // raw lat -7 at granularity 1000 with lat_offset -50 → -7050 nanodeg
    // → floor(-7050/100) = -71 (truncating / would give -70); raw lon -3
    // with lon_offset +50 → -2950 → floor = -30 (truncate: -29)
    val dense = new PbfWrite.Out
    dense.packedSints(1, Seq(5L))
    dense.packedSints(8, Seq(-7L))
    dense.packedSints(9, Seq(-3L))
    val group = new PbfWrite.Out
    group.msg(2, dense)
    val st = new PbfWrite.Out
    st.bytes(1, Array.emptyByteArray) // string index 0 = ""
    val block = new PbfWrite.Out
    block.msg(1, st)
    block.msg(2, group)
    block.int(17, 1000) // granularity (nanodeg)
    block.int(19, -50)  // lat_offset — note: varint-encoded int64 field
    block.int(20, 50)   // lon_offset
    val ents = PbfRead.decodeBlock(block.toArray).toList
    assert(ents.map(e => (e.id, e.lat7, e.lon7)) ==
      List((5L, Some(-71L), Some(-30L))))
  }

  /** A single-file PBF of the history fixture, its frames, and a
    * scratch path for a damaged copy. */
  private def damagedCopy(tag: String): (Array[Byte], Seq[PbfRead.BlobPtr], String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-test-pbf-$tag")
    val good = dir.resolve("good.osm.pbf").toString
    PbfWrite.write(spark, graft.queries.OsmQueries.historyFixture(spark), good,
      singleFile = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(good))
    (bytes, PbfRead.scanFrames(spark, good), dir.resolve("bad.osm.pbf").toString)
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("a file truncated inside its last blob fails on the driver, naming file and frame offset") {
    val (bytes, frames, bad) = damagedCopy("cut")
    assert(frames.length >= 2)
    val last = frames.last
    val prev = frames(frames.length - 2)
    val lastStart = prev.offset + prev.dataLen
    java.nio.file.Files.write(java.nio.file.Paths.get(bad),
      bytes.take((last.offset + last.dataLen / 2).toInt))
    val e = intercept[java.io.IOException](PbfRead.read(spark, bad))
    assert(e.getMessage.contains(bad) && e.getMessage.contains(s"offset $lastStart"),
      e.getMessage)
  }

  test("a flipped zlib checksum byte fails the read, naming file and blob offset") {
    val (bytes, frames, bad) = damagedCopy("adler")
    val last = frames.filter(_.blobType == "OSMData").last
    // the Blob's last field is zlib_data, whose last 4 bytes are Adler-32
    val i = (last.offset + last.dataLen - 1).toInt
    bytes(i) = (bytes(i) ^ 0xff).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(bad), bytes)
    val e = intercept[Exception](PbfRead.read(spark, bad).count())
    val msg = messages(e)
    assert(msg.contains(bad) && msg.contains(s"corrupt PBF blob at offset ${last.offset}"), msg)
  }
}
