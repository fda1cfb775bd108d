package graft.expr

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.{Cells, CentreTree, CoverIndex, Geom, GeomCell}

/** The reusable result of [[RT.coverProbe]]: a hit buffer, and a
  * `long[]` laid out as an UnsafeArrayData of BIGINT (element count,
  * null words, values) that [[array]] points at the current hits. */
final class CoverProbeOut {
  val hits = new CoverIndex.Hits
  private var words = new Array[Long](16)
  private val unsafe = new UnsafeArrayData

  def array: ArrayData = {
    val n = hits.n
    val header = UnsafeArrayData.calculateHeaderPortionInBytes(n) / 8
    if (words.length < header + n) words = new Array[Long](header + n)
    words(0) = n
    java.util.Arrays.fill(words, 1, header, 0L)
    System.arraycopy(hits.buf, 0, words, header, n)
    unsafe.pointTo(words, Platform.LONG_ARRAY_OFFSET, (header + n) * 8)
    unsafe
  }
}

/** Static runtime kernels referenced from generated (Janino) code — every
  * method here must be Java-callable via the Scala static forwarder.
  * Hot paths operate directly on ArrayData / UTF8String (zero-copy). */
object RT {

  def cellRing(cell: Long, k: Int): ArrayData =
    new GenericArrayData(Cells.ring(cell, k))

  /** Dense kNN kernel: top-k centre relation ids by (d2, rel) over
    * EVERY (point, centre) pair — `pts` is one url's collected
    * array<struct<lat7,lon7>>, the centre table rides as flat reference
    * arrays. Exactly the brute-force multiset semantics of
    * array_sort(all candidate structs).slice(1, k): duplicate points
    * contribute duplicate entries, ties order by rel. One insertion-
    * sorted top-k buffer, no allocation beyond the k-sized result. */
  def knnTop(pts: ArrayData, rels: Array[Long], lats: Array[Long],
      lons: Array[Long], k: Int): ArrayData = {
    val n = pts.numElements()
    val m = rels.length
    val total = n.toLong * m
    val kk = if (k.toLong < total) k else total.toInt
    val bd = new Array[Long](kk)
    val br = new Array[Long](kk)
    var filled = 0
    var i = 0
    while (i < n) {
      val row = pts.getStruct(i, 2)
      val lat = row.getLong(0)
      val lon = row.getLong(1)
      var c = 0
      while (c < m) {
        val dlat = lat - lats(c)
        var dlon = lon - lons(c)
        if (dlon < 0) dlon = -dlon
        if (dlon > 1800000000L) dlon = 3600000000L - dlon
        val d2 = dlat * dlat + dlon * dlon
        val r = rels(c)
        if (filled < kk) {
          var j = filled
          while (j > 0 && (bd(j - 1) > d2 || (bd(j - 1) == d2 && br(j - 1) > r))) {
            bd(j) = bd(j - 1); br(j) = br(j - 1); j -= 1
          }
          bd(j) = d2; br(j) = r
          filled += 1
        } else if (d2 < bd(kk - 1) || (d2 == bd(kk - 1) && r < br(kk - 1))) {
          var j = kk - 1
          while (j > 0 && (bd(j - 1) > d2 || (bd(j - 1) == d2 && br(j - 1) > r))) {
            bd(j) = bd(j - 1); br(j) = br(j - 1); j -= 1
          }
          bd(j) = d2; br(j) = r
        }
        c += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (filled == br.length) br else java.util.Arrays.copyOf(br, filled))
  }

  /** Index kNN kernel: the same top-k as [[knnTop]] — (d2, rel)-ordered
    * over the multiset of every (point, centre) pair of one url — found
    * by searching the broadcast [[CentreTree]] once per point instead of
    * scanning every centre. */
  def knnTree(pts: ArrayData, tree: CentreTree, k: Int): ArrayData = {
    val n = pts.numElements()
    val s = tree.search(n, k)
    var i = 0
    while (i < n) {
      val row = pts.getStruct(i, 2)
      s.add(row.getLong(0), row.getLong(1))
      i += 1
    }
    new GenericArrayData(s.result)
  }

  /** Even-odd PIP over ARRAY<ARRAY<BIGINT>> rings (flat [x0,y0,x1,y1,…]
    * per ring), walking ArrayData in place. Must agree bit-for-bit with
    * [[Geom.pointInRings]] (asserted in GeoExpressionsSpec). */
  def pointInRings(lon7: Long, lat7: Long, rings: ArrayData): Boolean = {
    var inside = false
    val nr = rings.numElements()
    var r = 0
    while (r < nr) {
      val ring = rings.getArray(r)
      val n = ring.numElements() / 2
      if (n >= 2) {
        var ax = ring.getLong(2 * (n - 1)); var ay = ring.getLong(2 * (n - 1) + 1)
        var i = 0
        while (i < n) {
          val bx = ring.getLong(2 * i); val by = ring.getLong(2 * i + 1)
          if (Geom.onSegment(lon7, lat7, ax, ay, bx, by)) return true
          if ((ay > lat7) != (by > lat7)) {
            val c = Geom.crossSign(bx - ax, by - ay, lon7 - ax, lat7 - ay)
            if ((c > 0) == (by > ay)) inside = !inside
          }
          ax = bx; ay = by
          i += 1
        }
      }
      r += 1
    }
    inside
  }

  /** Localized PIP ([[GeomCell.pointInCell]]) of a shuffled-path cover
    * row: the SW corner comes from the cell id and the [ax,ay,bx,by]*
    * edges are read in place — the loop the [[CoverIndex]] kernel runs. */
  def pointInCell(lon7: Long, lat7: Long, cell: Long, cornerInside: Boolean,
      edges: ArrayData): Boolean = edges match {
    case u: UnsafeArrayData =>
      val n = u.numElements()
      GeomCell.pointInCell(lon7, lat7, Cells.west(cell), Cells.south(cell),
        cornerInside, u.getBaseObject,
        u.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(n), n)
    case a =>
      GeomCell.pointInCell(lon7, lat7, Cells.west(cell), Cells.south(cell),
        cornerInside, a.toLongArray())
  }

  /** Containment kernel: the relations of `index` holding (lat7, lon7)
    * ([[CoverIndex.probe]]), as an array `out` owns and reuses — the
    * explode that consumes it reads every element before the next
    * point, so no point allocates. */
  def coverProbe(lat7: Long, lon7: Long, index: CoverIndex, fallback: Boolean,
      out: CoverProbeOut): ArrayData = {
    out.hits.n = 0
    index.probe(lat7, lon7, fallback, out.hits)
    out.array
  }

  /** Sentinel for "no coordinate found" (cannot collide with a packed
    * value, which is always ≥ 0). */
  val NoCoord: Long = Long.MinValue

  @inline def packCoord(lat7: Long, lon7: Long): Long =
    ((lat7 + 900000000L) << 32) | (lon7 + 1800000000L)
  @inline def packedLat7(p: Long): Long = (p >>> 32) - 900000000L
  @inline def packedLon7(p: Long): Long = (p & 0xffffffffL) - 1800000000L

  /** Geoparse (SURVEY.md §2-I, north star: "Catalyst-codegen UDF that
    * preserves byte-identical extracted text"): READ-ONLY scan of the
    * text bytes for the first pair of decimal numbers (each with a
    * fractional part) within 20 bytes of each other where the first fits
    * |lat| ≤ 90 and the second |lon| ≤ 180. Fixed-point parse — no
    * floating point anywhere, so the 1e-7 value is byte-exact. Returns a
    * packed coord or [[NoCoord]]. The input is never modified. */
  def geoparse(text: UTF8String): Long = {
    val nb = text.numBytes()
    var i = 0
    var prevVal = Long.MinValue
    var prevEnd = -1000
    var prevBoundary = true // start of string counts as a boundary
    while (i < nb) {
      val b = text.getByte(i)
      val isDigit = b >= '0' && b <= '9'
      val isMinus = b == '-'
      if (prevBoundary && (isDigit || isMinus)) {
        // try to parse a decimal number with mandatory fraction
        var j = i
        var neg = false
        if (text.getByte(j) == '-') { neg = true; j += 1 }
        var intPart = 0L
        var intDigits = 0
        while (j < nb && text.getByte(j) >= '0' && text.getByte(j) <= '9') {
          intPart = intPart * 10 + (text.getByte(j) - '0'); intDigits += 1; j += 1
        }
        if (intDigits >= 1 && intDigits <= 3 && j < nb && text.getByte(j) == '.') {
          j += 1
          var frac = 0L
          var fracDigits = 0
          while (j < nb && text.getByte(j) >= '0' && text.getByte(j) <= '9') {
            if (fracDigits < 7) { frac = frac * 10 + (text.getByte(j) - '0'); fracDigits += 1 }
            j += 1 // extra digits beyond 1e-7 are truncated
          }
          if (fracDigits >= 1) {
            var scaled = frac
            var k = fracDigits
            while (k < 7) { scaled *= 10; k += 1 }
            var v = intPart * 10000000L + scaled
            if (neg) v = -v
            if (prevVal != Long.MinValue && i - prevEnd <= 20 &&
                prevVal >= -900000000L && prevVal <= 900000000L &&
                v >= -1800000000L && v <= 1800000000L) {
              return packCoord(prevVal, v)
            }
            prevVal = v
            prevEnd = j
            i = j
          } else i += 1
        } else i += 1
      } else i += 1
      // boundary: previous byte is not alnum, '.', or '-'
      if (i > 0 && i <= nb) {
        val pb = text.getByte(i - 1)
        prevBoundary = !((pb >= '0' && pb <= '9') || (pb >= 'a' && pb <= 'z') ||
          (pb >= 'A' && pb <= 'Z') || pb == '.' || pb == '-')
      }
    }
    NoCoord
  }
}
