package graft.geo

import scala.collection.mutable.ArrayBuffer

/** Compacted hierarchical cell cover of an even-odd multipolygon
  * (SURVEY.md J4). Recursive refinement: a cell crossed by no boundary
  * edge is uniformly in/out (decided by one center-point PIP); crossed
  * cells split until `maxLevel`, where they stay as `full=false`
  * (= needs ray-casting refine at query time). Compaction is implicit —
  * interior cells are emitted at the coarsest level at which they are
  * uniform.
  *
  * Edge filtering passes only the edges intersecting a cell down to its
  * children, so per-polygon cost is O(E log cells), not O(E × cells).
  */
object Cover {

  /** Detailed boundary cell for the localized refine path (GeomCell):
    * `edges` = only the polygon edges intersecting this cell;
    * `cornerInside` = containment of the cell's SW corner; `fallback`
    * marks the rare cells whose corner lies exactly on a boundary edge
    * (parity transport undefined → refined against full rings). Full
    * interior cells carry no edges. */
  final case class CoverCellEx(cell: Long, full: Boolean,
      cornerInside: Boolean, fallback: Boolean, edges: Array[Long])

  /** Flat edge list: [ax,ay,bx,by]* built from closed rings. */
  private def edgesOf(rings: Array[Array[Long]]): Array[Long] = {
    val out = new ArrayBuffer[Long]()
    for (ring <- rings) {
      val n = ring.length / 2
      if (n >= 2) {
        var ax = ring(2 * (n - 1)); var ay = ring(2 * (n - 1) + 1)
        var i = 0
        while (i < n) {
          val bx = ring(2 * i); val by = ring(2 * i + 1)
          out += ax; out += ay; out += bx; out += by
          ax = bx; ay = by
          i += 1
        }
      }
    }
    out.toArray
  }

  /** Seed cells for distributed cover building: the cover region split
    * into sub-quadrants a couple of levels below the natural start level,
    * so one mega-polygon fans out to many tasks instead of one
    * (Amdahl-killer at planet scale — a country's cover would otherwise
    * be a single straggler task). */
  def seedCells(rings: Array[Array[Long]], maxLevel: Int,
      splitLevels: Int = 3): Array[Long] = {
    val top = startCells(rings, maxLevel)
    var seeds = top
    var i = 0
    while (i < splitLevels && seeds.forall(c => Cells.level(c) < maxLevel)) {
      seeds = seeds.flatMap(Cells.children)
      i += 1
    }
    seeds
  }

  /** Cover restricted to one seed cell (union over seeds == full cover). */
  def coverDetailedFrom(rings: Array[Array[Long]], seed: Long, maxLevel: Int,
      maxCells: Int = 65536): Array[CoverCellEx] =
    coverImpl(rings, Array(seed), maxLevel, maxCells)

  /** Build the whole cover in one call (single-task path). */
  def coverDetailed(rings: Array[Array[Long]], maxLevel: Int,
      maxCells: Int = 65536): Array[CoverCellEx] =
    coverImpl(rings, startCells(rings, maxLevel), maxLevel, maxCells)

  /** Natural start cells: coarsest level where one cell is no bigger
    * than the bbox (≤ ~2x2 cells). */
  private def startCells(rings: Array[Array[Long]], maxLevel: Int): Array[Long] = {
    val edges = edgesOf(rings)
    if (edges.isEmpty) return Array.empty
    var xlo = Long.MaxValue; var xhi = Long.MinValue
    var ylo = Long.MaxValue; var yhi = Long.MinValue
    var i = 0
    while (i < edges.length) {
      val vx = edges(i); val vy = edges(i + 1)
      if (vx < xlo) xlo = vx; if (vx > xhi) xhi = vx
      if (vy < ylo) ylo = vy; if (vy > yhi) yhi = vy
      i += 2
    }
    var startLevel = 0
    while (startLevel < maxLevel &&
        (Cells.LonSpan >> (startLevel + 1)) >= math.max(xhi - xlo, 1) &&
        (Cells.LatSpan >> (startLevel + 1)) >= math.max(yhi - ylo, 1))
      startLevel += 1
    val cxLo = Cells.x(Cells.encode(ylo, xlo, startLevel))
    val cxHi = Cells.x(Cells.encode(ylo, xhi, startLevel))
    val cyLo = Cells.y(Cells.encode(ylo, xlo, startLevel))
    val cyHi = Cells.y(Cells.encode(yhi, xlo, startLevel))
    (for (cy <- cyLo to cyHi; cx <- cxLo to cxHi)
      yield Cells.fromXY(cx, cy, startLevel)).toArray
  }

  /** `maxCells` caps the output (safety valve for degenerate geometry:
    * when exceeded, remaining partial cells are emitted un-split —
    * correctness is preserved because partial cells always go through
    * PIP refine). */
  private def coverImpl(rings: Array[Array[Long]], roots: Array[Long],
      maxLevel: Int, maxCells: Int): Array[CoverCellEx] = {
    val edges = edgesOf(rings)
    if (edges.isEmpty || roots.isEmpty) return Array.empty
    val out = new ArrayBuffer[CoverCellEx]()
    var budget = maxCells

    def visit(cell: Long, es: Array[Long]): Unit = {
      val (lonLo, latLo, lonHi, latHi) = Cells.bounds(cell)
      // closed rect: [lonLo, lonHi-1] x [latLo, latHi-1] in fixed point
      val rxHi = lonHi - 1; val ryHi = latHi - 1
      // filter edges touching this cell
      val kept = new ArrayBuffer[Long]()
      var j = 0
      while (j < es.length) {
        if (Geom.segmentIntersectsRect(es(j), es(j + 1), es(j + 2), es(j + 3),
            lonLo, latLo, rxHi, ryHi)) {
          kept += es(j); kept += es(j + 1); kept += es(j + 2); kept += es(j + 3)
        }
        j += 4
      }
      if (kept.isEmpty) {
        // uniform cell: decide by center point against the FULL geometry
        val cx = lonLo + (rxHi - lonLo) / 2
        val cy = latLo + (ryHi - latLo) / 2
        if (Geom.pointInRings(cx, cy, rings))
          out += CoverCellEx(cell, full = true, cornerInside = true,
            fallback = false, edges = Array.empty)
      } else if (Cells.level(cell) >= maxLevel || budget <= 0) {
        val keptArr = kept.toArray
        var cornerOnEdge = false
        var j = 0
        while (j < keptArr.length && !cornerOnEdge) {
          cornerOnEdge = Geom.onSegment(lonLo, latLo,
            keptArr(j), keptArr(j + 1), keptArr(j + 2), keptArr(j + 3))
          j += 4
        }
        val cornerIn = Geom.pointInRings(lonLo, latLo, rings)
        out += CoverCellEx(cell, full = false, cornerInside = cornerIn,
          fallback = cornerOnEdge, edges = keptArr)
      } else {
        budget -= 4
        val ch = Cells.children(cell)
        val keptArr = kept.toArray
        visit(ch(0), keptArr); visit(ch(1), keptArr)
        visit(ch(2), keptArr); visit(ch(3), keptArr)
      }
    }

    roots.foreach(root => visit(root, edges))
    out.toArray
  }
}
