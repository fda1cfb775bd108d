package graft.geo

/** Hierarchical quadtree cells over (lon, lat) in 1e-7° fixed point
  * ("S2-style" per the north rule; built from scratch — no H3/S2 jar
  * ships in /opt/spark/jars). Reference intent: README.md:21-23
  * (S2-cell indexing roadmap) in navigatorsguild/osm-admin.
  *
  * A cell at `level` L splits the lon range [-180,180) and the lat range
  * [-90,90] each into 2^L slots:
  *   x = floor((lon7 + 1800000000) * 2^L / 3600000000)
  *   y = floor((lat7 +  900000000) * 2^L / 1800000000)
  *   id = L * 2^58 + y * 2^L + x
  *
  * The id is PURE INTEGER ARITHMETIC (no interleaving) so the exact same
  * formula is expressible in ANSI SQL for the DuckDB oracle. Parent =
  * (L-1, x>>1, y>>1) — a true quadtree: 4 children per cell.
  *
  * All math is i64-exact: (lon7+1.8e9) ≤ 3.6e9 < 2^32, ×2^28 < 2^60.
  */
object Cells {
  val MaxLevel = 28
  val LevelShift = 58
  val LonSpan = 3600000000L
  val LatSpan = 1800000000L
  val LonMin = -1800000000L
  val LatMin = -900000000L

  @inline def encode(lat7: Long, lon7: Long, level: Int): Long = {
    val n = 1L << level
    var x = ((lon7 - LonMin) * n) / LonSpan
    var y = ((lat7 - LatMin) * n) / LatSpan
    if (x >= n) x = n - 1 // lon7 == +180° east edge
    if (x < 0) x = 0
    if (y >= n) y = n - 1 // lat7 == +90° north edge
    if (y < 0) y = 0
    (level.toLong << LevelShift) | (y << level) | x
  }

  @inline def level(cell: Long): Int = (cell >>> LevelShift).toInt
  @inline def x(cell: Long): Long = {
    val l = level(cell); (cell & ((1L << LevelShift) - 1)) & ((1L << l) - 1)
  }
  @inline def y(cell: Long): Long = {
    val l = level(cell); (cell & ((1L << LevelShift) - 1)) >>> l
  }

  @inline def fromXY(xx: Long, yy: Long, level: Int): Long =
    (level.toLong << LevelShift) | (yy << level) | xx

  def parent(cell: Long): Long = {
    val l = level(cell)
    require(l > 0, s"cell at level 0 has no parent")
    fromXY(x(cell) >> 1, y(cell) >> 1, l - 1)
  }

  /** Ancestor at target level (≤ cell's level). */
  def ancestor(cell: Long, targetLevel: Int): Long = {
    val l = level(cell)
    require(targetLevel <= l)
    fromXY(x(cell) >> (l - targetLevel), y(cell) >> (l - targetLevel), targetLevel)
  }

  def children(cell: Long): Array[Long] = {
    val l = level(cell); val cx = x(cell) << 1; val cy = y(cell) << 1
    Array(fromXY(cx, cy, l + 1), fromXY(cx + 1, cy, l + 1),
      fromXY(cx, cy + 1, l + 1), fromXY(cx + 1, cy + 1, l + 1))
  }

  /** Cells at Chebyshev distance exactly k (k=0 → the cell itself).
    * x wraps around the antimeridian; y is clamped at the poles. */
  def ring(cell: Long, k: Int): Array[Long] = {
    val l = level(cell)
    if (k == 0) return Array(cell)
    val n = 1L << l
    val cx = x(cell); val cy = y(cell)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var dx = -k
    while (dx <= k) {
      var dy = -k
      while (dy <= k) {
        if (math.max(math.abs(dx), math.abs(dy)) == k) {
          val yy = cy + dy
          if (yy >= 0 && yy < n) {
            var xx = (cx + dx) % n
            if (xx < 0) xx += n
            out += fromXY(xx, yy, l)
          }
        }
        dy += 1
      }
      dx += 1
    }
    out.toArray
  }

  /** Inclusive-exclusive fixed-point bounds of a cell:
    * lon7 ∈ [lonLo, lonHi), lat7 ∈ [latLo, latHi) — exact inverses of
    * encode's floor division (ceil-div boundaries). */
  def bounds(cell: Long): (Long, Long, Long, Long) = {
    val l = level(cell); val cx = x(cell); val cy = y(cell)
    (west(cx, l), south(cy, l), west(cx + 1, l), south(cy + 1, l))
  }

  /** West wall of a cell: `bounds`' lonLo, without the tuple. */
  @inline def west(cell: Long): Long = west(x(cell), level(cell))

  /** South wall of a cell: `bounds`' latLo, without the tuple. */
  @inline def south(cell: Long): Long = south(y(cell), level(cell))

  /** West wall of column `x` at `level`: the ceil-div of x · LonSpan by
    * 2^level (as a shift), the inverse of encode's floor division. */
  @inline def west(x: Long, level: Int): Long =
    ((x * LonSpan + (1L << level) - 1) >> level) + LonMin

  /** South wall of row `y` at `level`, as [[west]]. */
  @inline def south(y: Long, level: Int): Long =
    ((y * LatSpan + (1L << level) - 1) >> level) + LatMin
}
