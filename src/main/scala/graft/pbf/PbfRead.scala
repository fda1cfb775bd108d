package graft.pbf

import java.io.DataInputStream
import java.util.zip.Inflater

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{OsmEntity, OsmKind, OsmMember, OsmTag}

/** Distributed `.osm.pbf` scan (SURVEY.md A1/A2): the driver walks the
  * frame sequence reading only the 4-byte lengths + BlobHeaders (cheap
  * sequential metadata scan, like FileInputFormat.getSplits), producing a
  * Dataset of (offset,len) blob pointers; executors then decode blobs in
  * parallel with `mapPartitions` — one blob ≈ 8k elements is the natural
  * split unit, so a planet file fans out to ~tens of thousands of tasks.
  *
  * Format knowledge is public (osmformat.proto / fileformat.proto);
  * decode behavior validated against the reference fixture counts
  * (41,861 nodes / 3,014 ways / 125 relations — FIXTURES.md §1). */
object PbfRead {

  final case class BlobPtr(path: String, offset: Long, dataLen: Int, blobType: String)

  /** Parsed OSMHeader (public osmformat.proto HeaderBlock). `bbox7` is
    * (left, right, top, bottom) in 1e-7° (the wire carries
    * nanodegrees); replication fields mirror the reference's export
    * metadata (/root/reference/src/lib.rs:177-186). */
  final case class PbfHeader(
      requiredFeatures: Seq[String],
      optionalFeatures: Seq[String],
      writingProgram: String,
      bbox7: Option[(Long, Long, Long, Long)] = None,
      source: Option[String] = None,
      replicationTimestamp: Option[Long] = None,
      replicationSequence: Option[Long] = None,
      replicationBaseUrl: Option[String] = None)

  private def hadoopOpen(spark: SparkSession, path: String) = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    fs.open(p)
  }

  /** Resolve a PBF input to its ordered physical files: a plain file is
    * itself; a [[PbfWrite]] directory (the scale-native form) is its
    * name-sorted `part-*` list — the format is frame-concatenable, so
    * the ordered list IS the file. Returns (path, length) pairs. */
  def partFiles(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq((path, st.getLen))
    else {
      val parts = fs.listStatus(p)
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
      require(parts.nonEmpty, s"no part-* files under PBF directory $path")
      parts.toSeq.map(s => (s.getPath.toString, s.getLen))
    }
  }

  /** Driver-side frame index: sequence of blob pointers. Fine for
    * files up to a few hundred MB; a planet file has ~9M frames, so
    * [[scanFramesDistributed]] takes over above
    * [[DistributedScanThreshold]] (the same block-split + resync trick
    * FileInputFormat uses for text). A frame whose header or data runs
    * past the end of the file fails here, naming the file and the
    * frame's offset, instead of as a bare EOF on an executor. */
  def scanFrames(spark: SparkSession, path: String): Seq[BlobPtr] = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val out = scala.collection.mutable.ArrayBuffer.empty[BlobPtr]
    var offset = 0L
    def truncated(what: String) = new java.io.IOException(
      s"truncated PBF frame at offset $offset in $path: $what runs past " +
        s"the end of the file ($fileLen bytes)")
    try {
      while (offset < fileLen) {
        if (offset + 4 > fileLen) throw truncated("the header length")
        val headerLen = in.readInt()
        if (headerLen < 0 || offset + 4 + headerLen > fileLen)
          throw truncated(s"the $headerLen-byte BlobHeader")
        val headerBytes = new Array[Byte](headerLen)
        in.readFully(headerBytes)
        val (blobType, dataLen) = parseBlobHeader(headerBytes).getOrElse(throw
          new java.io.IOException(s"invalid BlobHeader at offset $offset in $path"))
        val dataOffset = offset + 4 + headerLen
        if (dataOffset + dataLen > fileLen) throw truncated(s"the $dataLen-byte blob")
        out += BlobPtr(path, dataOffset, dataLen, blobType)
        offset = dataOffset + dataLen
        in.seek(offset)
      }
      out.toSeq
    } finally in.close()
  }

  /** Files at least this large index in parallel tasks (system property
    * override exists so specs can exercise the distributed path on
    * small files). */
  def DistributedScanThreshold: Long =
    sys.props.get("graft.pbf.distScanThreshold").map(_.toLong)
      .getOrElse(256L << 20)

  // PBF frames carry no sync marker, but every OSMData BlobHeader
  // starts with the field-1 tag + length + literal type: a 9-byte
  // signature whose false-positive rate inside compressed data is
  // ~2^-72 per position — and every candidate is chain-validated
  // (its own BlobHeader parses AND the next frame's does too).
  private val DataSig: Array[Byte] =
    Array[Byte](0x0a, 0x07) ++ "OSMData".getBytes("US-ASCII")
  private val MaxHeaderLen = 64 << 10 // spec: BlobHeader < 64 KiB
  private val MaxDataLen = 64 << 20 // spec: blob < 32 MiB; lenient ×2

  private def parseBlobHeader(b: Array[Byte]): Option[(String, Int)] =
    try {
      val p = new Proto(b)
      var t = ""
      var dl = -1
      while (p.hasMore) {
        p.readKey() match {
          case (1, 2) => t = p.readString()
          case (3, 0) => dl = p.readVarint().toInt
          case (_, w) => p.skip(w)
        }
      }
      if (t.nonEmpty && dl >= 0) Some((t, dl)) else None
    } catch { case _: Exception => None }

  /** Parse the frame starting at `pos` if one validly does:
    * (blobType, headerLen, dataLen). */
  private def frameAt(in: org.apache.hadoop.fs.FSDataInputStream,
      fileLen: Long, pos: Long): Option[(String, Int, Int)] = {
    if (pos + 4 > fileLen) return None
    val lenBuf = new Array[Byte](4)
    in.readFully(pos, lenBuf)
    val hl = java.nio.ByteBuffer.wrap(lenBuf).getInt
    if (hl <= 0 || hl > MaxHeaderLen || pos + 4 + hl > fileLen) return None
    val hb = new Array[Byte](hl)
    in.readFully(pos + 4, hb)
    parseBlobHeader(hb) match {
      case Some((t, dl)) if dl <= MaxDataLen && pos + 4 + hl + dl <= fileLen =>
        Some((t, hl, dl))
      case _ => None
    }
  }

  /** One split's frames: signature-search the first frame START in
    * [start, end), then walk frame-to-frame while starts stay inside
    * the split (a frame may extend past `end`; ownership is by start,
    * so splits neither overlap nor leave gaps). */
  private def scanRange(in: org.apache.hadoop.fs.FSDataInputStream,
      path: String, fileLen: Long, start: Long, end: Long): Seq[BlobPtr] = {
    val chunkSize = 1 << 20
    // the signature sits 4 bytes after the frame start, so scan
    // positions [start+4, end+4)
    var found = -1L
    var base = start + 4
    val buf = new Array[Byte](chunkSize + DataSig.length - 1)
    while (found < 0 && base < end + 4 && base < fileLen) {
      val n = math.min(buf.length.toLong, fileLen - base).toInt
      in.readFully(base, buf, 0, n)
      var i = 0
      while (found < 0 && i <= n - DataSig.length) {
        var k = 0
        while (k < DataSig.length && buf(i + k) == DataSig(k)) k += 1
        if (k == DataSig.length) {
          val cand = base + i - 4
          if (cand >= start && cand < end) {
            // chain validation: this frame AND its successor must parse
            frameAt(in, fileLen, cand) match {
              case Some((_, hl, dl)) =>
                val next = cand + 4 + hl + dl
                if (next == fileLen || frameAt(in, fileLen, next).isDefined)
                  found = cand
              case None =>
            }
          }
        }
        i += 1
      }
      base += chunkSize // chunks overlap by sig-1 bytes via buf slack
    }
    if (found < 0) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[BlobPtr]
    var pos = found
    while (pos < end && pos < fileLen) {
      frameAt(in, fileLen, pos) match {
        case Some((t, hl, dl)) =>
          out += BlobPtr(path, pos + 4 + hl, dl, t)
          pos += 4 + hl + dl
        case None =>
          throw new java.io.IOException(
            s"corrupt PBF frame chain at offset $pos in $path")
      }
    }
    out.toSeq
  }

  /** The split search assumes BlobHeaders serialize the `type` field
    * FIRST (true of every known writer, including this one; protobuf
    * does not mandate field order). Probe the first data frame's raw
    * header bytes: if they do not lead with the type field, the caller
    * must use the sequential index (which parses any field order)
    * rather than silently missing frames. */
  private[pbf] def typeFirstHeaders(spark: SparkSession, path: String): Boolean = {
    val in = new DataInputStream(hadoopOpen(spark, path))
    try {
      // probe until the FIRST OSMData frame decides (frame 0 or 1 in
      // practice, but e.g. several concatenated OSMHeader frames are
      // legal); an INCONCLUSIVE probe — EOF with no data frame, or the
      // frame budget exhausted — returns false so the caller takes the
      // sequential index, which parses any field order (round 3
      // defaulted to true after 4 frames and would have mis-gated such
      // a file onto the signature search, silently losing frames)
      var k = 0
      while (k < 1024) { // budget: each iteration skips a whole frame
        val headerLen =
          try in.readInt()
          catch { case _: java.io.EOFException => return false }
        val hb = new Array[Byte](headerLen)
        in.readFully(hb)
        parseBlobHeader(hb) match {
          case Some((t, dl)) =>
            if (t == "OSMData")
              return hb.length >= DataSig.length &&
                DataSig.indices.forall(i => hb(i) == DataSig(i))
            in.skipBytes(dl)
          case None => return false
        }
        k += 1
      }
      false
    } finally in.close()
  }

  /** Distributed frame index (SURVEY A1 at planet scale): byte-range
    * splits scanned in parallel tasks — the driver never walks ~9M
    * frame headers itself. Emits OSMData pointers only (the OSMHeader
    * frame carries no data-signature and is probed by [[readHeader]]).
    * Callers must gate on [[typeFirstHeaders]]; a pathological file
    * MIXING type-first and non-type-first headers mid-file could still
    * defeat the per-split signature search (no real writer does this —
    * the sequential index remains the escape hatch). */
  def scanFramesDistributed(spark: SparkSession, path: String,
      splitBytes: Long = 128L << 20): Dataset[BlobPtr] = {
    import spark.implicits._
    require(splitBytes > 0)
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val fileLen = fs.getFileStatus(p).getLen
    val nSplits = math.max(1L, (fileLen + splitBytes - 1) / splitBytes).toInt
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val bc = spark.sparkContext.broadcast(hconf)
    val splits = (0 until nSplits)
      .map(i => (i * splitBytes, math.min((i + 1) * splitBytes, fileLen)))
    spark.createDataset(splits)
      .repartition(math.min(nSplits, spark.sparkContext.defaultParallelism * 4))
      .flatMap { case (start, end) =>
        val hp = new Path(path)
        val fsx = FileSystem.get(hp.toUri, bc.value.value)
        val in = fsx.open(hp)
        try scanRange(in, path, fileLen, start, end).filter(_.blobType == "OSMData")
        finally in.close()
      }
  }

  /** Inflate a Blob message (raw or zlib) to its uncompressed bytes. */
  def inflateBlob(blobBytes: Array[Byte]): Array[Byte] = {
    val p = new Proto(blobBytes)
    var raw: Array[Byte] = null
    var rawSize = -1
    var zlib: Array[Byte] = null
    while (p.hasMore) {
      p.readKey() match {
        case (1, 2) => raw = p.readBytes()
        case (2, 0) => rawSize = p.readVarint().toInt
        case (3, 2) => zlib = p.readBytes()
        case (_, w) => p.skip(w)
      }
    }
    if (raw != null) raw
    else {
      // grow the buffer until finished() (raw_size is optional and a
      // fixed ×20 guess truncated highly-compressible delta blocks);
      // fail loudly on truncated input instead of spinning
      val inf = new Inflater()
      inf.setInput(zlib)
      var out = new Array[Byte](
        if (rawSize >= 0) math.max(rawSize, 1) else math.max(zlib.length * 8, 1 << 16))
      var n = 0
      while (!inf.finished()) {
        if (n == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        val w = inf.inflate(out, n, out.length - n)
        if (w == 0 && !inf.finished() && (inf.needsInput() || inf.needsDictionary()))
          throw new java.io.IOException("truncated or invalid zlib blob")
        n += w
      }
      inf.end()
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }
  }

  /** Driver-side header probe (SURVEY.md A2/A4): first frame must be an
    * OSMHeader — this doubles as file-magic validation. */
  def readHeader(spark: SparkSession, path: String): PbfHeader = {
    val frames = {
      // directory form: the header frame lives in the first part
      val in = new DataInputStream(hadoopOpen(spark, partFiles(spark, path).head._1))
      try {
        val headerBytes = new Array[Byte](in.readInt())
        in.readFully(headerBytes)
        val (blobType, dataLen) = parseBlobHeader(headerBytes).getOrElse(("", 0))
        require(blobType == "OSMHeader",
          s"not an OSM PBF file (first blob is '$blobType'): $path")
        val data = new Array[Byte](dataLen)
        in.readFully(data)
        data
      } finally in.close()
    }
    val hb = new Proto(inflateBlob(frames))
    var required = List.empty[String]
    var optional = List.empty[String]
    var wp = ""
    var bbox: Option[(Long, Long, Long, Long)] = None
    var source: Option[String] = None
    var repTs: Option[Long] = None
    var repSeq: Option[Long] = None
    var repUrl: Option[String] = None
    while (hb.hasMore) {
      hb.readKey() match {
        case (1, 2) => // HeaderBBox: sint64 nanodegrees → 1e-7°
          val bp = new Proto(hb.readBytes())
          var left = 0L; var right = 0L; var top = 0L; var bottom = 0L
          while (bp.hasMore) {
            bp.readKey() match {
              case (1, 0) => left = bp.readSint()
              case (2, 0) => right = bp.readSint()
              case (3, 0) => top = bp.readSint()
              case (4, 0) => bottom = bp.readSint()
              case (_, w) => bp.skip(w)
            }
          }
          bbox = Some((Math.floorDiv(left, 100), Math.floorDiv(right, 100),
            Math.floorDiv(top, 100), Math.floorDiv(bottom, 100)))
        case (4, 2) => required ::= hb.readString()
        case (5, 2) => optional ::= hb.readString()
        case (16, 2) => wp = hb.readString()
        case (17, 2) => source = Some(hb.readString())
        case (32, 0) => repTs = Some(hb.readVarint())
        case (33, 0) => repSeq = Some(hb.readVarint())
        case (34, 2) => repUrl = Some(hb.readString())
        case (_, w) => hb.skip(w)
      }
    }
    PbfHeader(required.reverse, optional.reverse, wp, bbox, source,
      repTs, repSeq, repUrl)
  }

  /** Decode one OSMData blob into entities. */
  def decodeBlock(block: Array[Byte]): Iterator[OsmEntity] = {
    val p = new Proto(block)
    val strings = scala.collection.mutable.ArrayBuffer.empty[String]
    var granularity = 100L
    var latOffset = 0L
    var lonOffset = 0L
    var dateGranularity = 1000L
    val groups = scala.collection.mutable.ArrayBuffer.empty[Proto]
    while (p.hasMore) {
      p.readKey() match {
        case (1, 2) => // string table
          val st = p.readMessage()
          while (st.hasMore) {
            st.readKey() match {
              case (1, 2) => strings += st.readString()
              case (_, w) => st.skip(w)
            }
          }
        case (2, 2) => groups += p.readMessage()
        case (17, 0) => granularity = p.readVarint()
        case (18, 0) => dateGranularity = p.readVarint()
        case (19, 0) => latOffset = p.readVarint()
        case (20, 0) => lonOffset = p.readVarint()
        case (_, w) => p.skip(w)
      }
    }
    val strArr = strings.toArray
    // granularity 100 nanodeg == exactly 1e-7°; other granularities
    // scale. floorDiv, not truncating /: for granularity ≠ 100 and
    // negative coordinates the two differ by 1 unit, and the header
    // bbox path already floors (readHeader) — they must agree.
    @inline def toLat7(raw: Long): Long = Math.floorDiv(latOffset + granularity * raw, 100L)
    @inline def toLon7(raw: Long): Long = Math.floorDiv(lonOffset + granularity * raw, 100L)

    groups.iterator.flatMap { g =>
      val out = scala.collection.mutable.ArrayBuffer.empty[OsmEntity]
      while (g.hasMore) {
        g.readKey() match {
          case (2, 2) => out ++= decodeDense(g.readMessage(), strArr, toLat7, toLon7, dateGranularity)
          case (3, 2) => out += decodeWay(g.readMessage(), strArr, dateGranularity)
          case (4, 2) => out += decodeRelation(g.readMessage(), strArr, dateGranularity)
          case (1, 2) => // plain (non-dense) Node — older/other writers
            out += decodeNode(g.readMessage(), strArr, toLat7, toLon7, dateGranularity)
          case (_, w) => g.skip(w)
        }
      }
      out
    }
  }

  /** Info message → (version, tsMillis, changeset, uid, userSid, visible). */
  private def decodeInfo(ip: Proto, dateGranularity: Long): (Int, Long, Long, Int, Int, Boolean) = {
    var version = -1
    var ts = 0L
    var changeset = -1L
    var uid = -1
    var userSid = 0
    var visible = true
    while (ip.hasMore) {
      ip.readKey() match {
        case (1, 0) => version = ip.readVarint().toInt
        case (2, 0) => ts = ip.readVarint() * dateGranularity
        case (3, 0) => changeset = ip.readVarint()
        case (4, 0) => uid = ip.readVarint().toInt
        case (5, 0) => userSid = ip.readVarint().toInt
        case (6, 0) => visible = ip.readVarint() != 0
        case (_, w) => ip.skip(w)
      }
    }
    (version, ts, changeset, uid, userSid, visible)
  }

  private def decodeDense(d: Proto, strings: Array[String],
      toLat7: Long => Long, toLon7: Long => Long,
      dateGranularity: Long): Seq[OsmEntity] = {
    var ids: Array[Long] = Array.empty
    var lats: Array[Long] = Array.empty
    var lons: Array[Long] = Array.empty
    var keysVals: Array[Long] = Array.empty
    var versions: Array[Long] = Array.empty
    var timestamps: Array[Long] = Array.empty
    var changesets: Array[Long] = Array.empty
    var uids: Array[Long] = Array.empty
    var userSids: Array[Long] = Array.empty
    var visibles: Array[Long] = Array.empty
    while (d.hasMore) {
      d.readKey() match {
        case (1, 2) => ids = d.readPackedSints()
        case (5, 2) => // DenseInfo
          val di = d.readMessage()
          while (di.hasMore) {
            di.readKey() match {
              case (1, 2) => versions = di.readPackedVarints()
              case (2, 2) => timestamps = di.readPackedSints()
              case (3, 2) => changesets = di.readPackedSints()
              case (4, 2) => uids = di.readPackedSints()
              case (5, 2) => userSids = di.readPackedSints()
              case (6, 2) => visibles = di.readPackedVarints()
              case (_, w) => di.skip(w)
            }
          }
        case (8, 2) => lats = d.readPackedSints()
        case (9, 2) => lons = d.readPackedSints()
        case (10, 2) => keysVals = d.readPackedVarints()
        case (_, w) => d.skip(w)
      }
    }
    val n = ids.length
    val out = new scala.collection.mutable.ArrayBuffer[OsmEntity](n)
    var id = 0L; var lat = 0L; var lon = 0L
    var ts = 0L; var cs = 0L; var uid = 0L; var usid = 0L
    var kv = 0
    var i = 0
    while (i < n) {
      id += ids(i); lat += lats(i); lon += lons(i)
      if (timestamps.nonEmpty) ts += timestamps(i)
      if (changesets.nonEmpty) cs += changesets(i)
      if (uids.nonEmpty) uid += uids(i)
      if (userSids.nonEmpty) usid += userSids(i)
      val tags = scala.collection.mutable.ArrayBuffer.empty[OsmTag]
      if (keysVals.nonEmpty) {
        while (kv < keysVals.length && keysVals(kv) != 0) {
          tags += OsmTag(strings(keysVals(kv).toInt), strings(keysVals(kv + 1).toInt))
          kv += 2
        }
        kv += 1 // skip the 0 delimiter
      }
      val visible = visibles.isEmpty || visibles(i) != 0
      out += OsmEntity(
        kind = OsmKind.Node, id = id,
        version = if (versions.nonEmpty) versions(i).toInt else -1,
        visible = visible,
        lat7 = Some(toLat7(lat)), lon7 = Some(toLon7(lon)),
        tsMillis = if (timestamps.nonEmpty) ts * dateGranularity else 0L,
        changeset = cs, uid = uid.toInt,
        user = if (userSids.nonEmpty) strings(usid.toInt) else "",
        tags = tags.toSeq, refs = Nil, members = Nil)
      i += 1
    }
    out.toSeq
  }

  /** Plain Node message (osmformat.proto Node): id is SINT64 (unlike
    * ways/relations), lat/lon sint64 in block granularity. */
  private def decodeNode(np: Proto, strings: Array[String],
      toLat7: Long => Long, toLon7: Long => Long,
      dateGranularity: Long): OsmEntity = {
    var id = 0L
    var keys: Array[Long] = Array.empty
    var vals: Array[Long] = Array.empty
    var lat = 0L
    var lon = 0L
    var info = (-1, 0L, -1L, -1, 0, true)
    while (np.hasMore) {
      np.readKey() match {
        case (1, 0) => id = np.readSint()
        case (2, 2) => keys = np.readPackedVarints()
        case (3, 2) => vals = np.readPackedVarints()
        case (4, 2) => info = decodeInfo(np.readMessage(), dateGranularity)
        case (8, 0) => lat = np.readSint()
        case (9, 0) => lon = np.readSint()
        case (_, wt) => np.skip(wt)
      }
    }
    val tags = keys.indices.map(i => OsmTag(strings(keys(i).toInt), strings(vals(i).toInt)))
    OsmEntity(OsmKind.Node, id, info._1, info._6,
      Some(toLat7(lat)), Some(toLon7(lon)), info._2, info._3,
      info._4, if (info._5 != 0) strings(info._5) else "", tags, Nil, Nil)
  }

  private def decodeWay(w: Proto, strings: Array[String],
      dateGranularity: Long): OsmEntity = {
    var id = 0L
    var keys: Array[Long] = Array.empty
    var vals: Array[Long] = Array.empty
    var refs: Array[Long] = Array.empty
    var info = (-1, 0L, -1L, -1, 0, true)
    while (w.hasMore) {
      w.readKey() match {
        case (1, 0) => id = w.readVarint()
        case (2, 2) => keys = w.readPackedVarints()
        case (3, 2) => vals = w.readPackedVarints()
        case (4, 2) => info = decodeInfo(w.readMessage(), dateGranularity)
        case (8, 2) =>
          val deltas = w.readPackedSints()
          refs = new Array[Long](deltas.length)
          var acc = 0L
          var i = 0
          while (i < deltas.length) { acc += deltas(i); refs(i) = acc; i += 1 }
        case (_, wt) => w.skip(wt)
      }
    }
    val tags = keys.indices.map(i => OsmTag(strings(keys(i).toInt), strings(vals(i).toInt)))
    OsmEntity(OsmKind.Way, id, info._1, info._6, None, None, info._2, info._3,
      info._4, if (info._5 != 0) strings(info._5) else "", tags, refs.toSeq, Nil)
  }

  private def decodeRelation(r: Proto, strings: Array[String],
      dateGranularity: Long): OsmEntity = {
    var id = 0L
    var keys: Array[Long] = Array.empty
    var vals: Array[Long] = Array.empty
    var roles: Array[Long] = Array.empty
    var memids: Array[Long] = Array.empty
    var types: Array[Long] = Array.empty
    var info = (-1, 0L, -1L, -1, 0, true)
    while (r.hasMore) {
      r.readKey() match {
        case (1, 0) => id = r.readVarint()
        case (2, 2) => keys = r.readPackedVarints()
        case (3, 2) => vals = r.readPackedVarints()
        case (4, 2) => info = decodeInfo(r.readMessage(), dateGranularity)
        case (8, 2) => roles = r.readPackedVarints()
        case (9, 2) =>
          val deltas = r.readPackedSints()
          memids = new Array[Long](deltas.length)
          var acc = 0L
          var i = 0
          while (i < deltas.length) { acc += deltas(i); memids(i) = acc; i += 1 }
        case (10, 2) => types = r.readPackedVarints()
        case (_, wt) => r.skip(wt)
      }
    }
    val tags = keys.indices.map(i => OsmTag(strings(keys(i).toInt), strings(vals(i).toInt)))
    val members = memids.indices.map(i =>
      OsmMember(types(i).toByte, memids(i), strings(roles(i).toInt)))
    OsmEntity(OsmKind.Relation, id, info._1, info._6, None, None, info._2, info._3,
      info._4, if (info._5 != 0) strings(info._5) else "", tags, Nil, members)
  }

  /** The distributed scan: blob pointers → mapPartitions decode. */
  def read(spark: SparkSession, path: String): Dataset[OsmEntity] = {
    import spark.implicits._
    val header = readHeader(spark, path) // validates magic (A4)
    require(header.requiredFeatures.forall(f =>
      f == "OsmSchema-V0.6" || f == "DenseNodes" || f == "HistoricalInformation" ||
        f.startsWith("Sort.")),
      s"unsupported required features: ${header.requiredFeatures}")
    val files = partFiles(spark, path)
    // small files: cheap driver walk; planet-sized: distributed index
    // (guarded by the type-first header probe — see typeFirstHeaders)
    val frames: Dataset[BlobPtr] = files.map { case (f, len) =>
      if (len >= DistributedScanThreshold && typeFirstHeaders(spark, f))
        scanFramesDistributed(spark, f)
      else scanFrames(spark, f).filter(_.blobType == "OSMData").toDS()
    }.reduce(_ union _)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val bc = spark.sparkContext.broadcast(hconf)
    // one task per a few blobs: blobs are ~8k elements each (sized off
    // the byte length so neither index path needs a count action)
    val totalLen = files.map(_._2).sum
    val nPart = math.max(1, math.min((totalLen >> 21).toInt + 1,
      spark.sparkContext.defaultParallelism * 2))
    frames.repartition(nPart).mapPartitions { ptrs =>
      val byPath = ptrs.toSeq.groupBy(_.path)
      byPath.iterator.flatMap { case (path, ps) =>
        val hp = new Path(path)
        val fs = FileSystem.get(hp.toUri, bc.value.value)
        val in = fs.open(hp)
        // closed after the run's last blob, or at task end if the task
        // fails or stops early
        var open = true
        def close(): Unit = if (open) { open = false; in.close() }
        TaskContext.get().addTaskCompletionListener[Unit](_ => close())
        ps.sortBy(_.offset).iterator.flatMap { ptr =>
          // one blob decodes eagerly, so any read, inflate or decode
          // failure surfaces here and can name its file and offset
          try {
            val data = new Array[Byte](ptr.dataLen)
            in.readFully(ptr.offset, data)
            decodeBlock(inflateBlob(data)).toVector
          } catch {
            case e: Exception => throw new java.io.IOException(
              s"corrupt PBF blob at offset ${ptr.offset} in $path: $e", e)
          }
        } ++ { close(); Iterator.empty }
      }
    }
  }
}
