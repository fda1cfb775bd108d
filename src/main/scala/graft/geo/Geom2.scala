package graft.geo

import org.apache.spark.unsafe.Platform

/** Localized point-in-polygon (the planet-scale refine path, SURVEY.md
  * §7.4 future work): a boundary cover cell stores only the edges that
  * intersect it plus the containment bit of its SW corner; containment
  * of any point inside the cell is then the corner bit XOR the parity of
  * boundary crossings along two axis-parallel segments
  *   SW corner (wx,sy) → (wx,py)  [vertical, along the west wall]
  *   (wx,py) → (px,py)            [horizontal, to the point]
  * — all decided with exact 128-bit integer signs, so refine cost is
  * O(edges-in-cell), independent of polygon size (a country coastline
  * never ships with, or is scanned for, a page row again).
  *
  * Half-open conventions (no double counting at the segment junction):
  * vertical counts intersections with y* ∈ (sy, py], horizontal with
  * x* ∈ (wx, px); a point exactly ON an edge returns inside before any
  * parity logic. Cells whose SW corner lies exactly on a boundary edge
  * are flagged `fallback` at cover build and refined the old way. */
object GeomCell {

  /** Does edge (a,b) cross the vertical segment x=wx, y ∈ (sy, py]? */
  def crossesVertical(ax: Long, ay: Long, bx: Long, by: Long,
      wx: Long, sy: Long, py: Long): Boolean = {
    if ((ax > wx) == (bx > wx)) return false // half-open span in x
    val d = bx - ax
    // y* relative to py: sign of (bx-ax)(py-ay) - (by-ay)(wx-ax)
    val sPy = Geom.crossSign(d, by - ay, wx - ax, py - ay)
    val sSy = Geom.crossSign(d, by - ay, wx - ax, sy - ay)
    if (d > 0) sPy >= 0 && sSy < 0 // y* <= py && y* > sy
    else sPy <= 0 && sSy > 0
  }

  /** Does edge (a,b) cross the horizontal segment y=py, x ∈ (wx, px)? */
  def crossesHorizontal(ax: Long, ay: Long, bx: Long, by: Long,
      py: Long, wx: Long, px: Long): Boolean = {
    if ((ay > py) == (by > py)) return false
    val d = by - ay
    val sPx = Geom.crossSign(d, bx - ax, py - ay, px - ax)
    val sWx = Geom.crossSign(d, bx - ax, py - ay, wx - ax)
    // x* < px && x* > wx   (sign of (by-ay)(px-ax) - (bx-ax)(py-ay))
    if (d > 0) sPx > 0 && sWx < 0
    else sPx < 0 && sWx > 0
  }

  /** Containment of (px,py) within a cell whose SW corner is (wx,sy),
    * given the corner's containment bit and the cell-local edge list
    * (flat [ax,ay,bx,by]*). Boundary = inside. */
  def pointInCell(px: Long, py: Long, wx: Long, sy: Long,
      cornerInside: Boolean, edges: Array[Long]): Boolean =
    pointInCell(px, py, wx, sy, cornerInside, edges,
      Platform.LONG_ARRAY_OFFSET, edges.length)

  /** [[pointInCell]] over `nLongs` edge coordinates read in place from
    * `base` at byte `offset` — a slice of a `long[]` (the cover index)
    * or the values of an UnsafeArrayData (a cover row's `edges`), so
    * neither refine path copies its edges. */
  def pointInCell(px: Long, py: Long, wx: Long, sy: Long,
      cornerInside: Boolean, base: AnyRef, offset: Long, nLongs: Int): Boolean = {
    var flips = 0
    var o = offset
    val end = offset + 8L * nLongs
    while (o < end) {
      val ax = Platform.getLong(base, o); val ay = Platform.getLong(base, o + 8)
      val bx = Platform.getLong(base, o + 16); val by = Platform.getLong(base, o + 24)
      if (Geom.onSegment(px, py, ax, ay, bx, by)) return true
      if (crossesVertical(ax, ay, bx, by, wx, sy, py)) flips += 1
      if (crossesHorizontal(ax, ay, bx, by, py, wx, px)) flips += 1
      o += 32
    }
    cornerInside ^ ((flips & 1) == 1)
  }
}
