package graft.geo

import java.math.BigInteger

import org.locationtech.jts.geom.{Coordinate, GeometryFactory, PrecisionModel}
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests with seeded loops (the offline cache has no
  * scalatest↔scalacheck bridge artifact, so properties are hand-rolled
  * deterministic sweeps). */
class GeoKernelsSpec extends AnyFunSuite {

  private val gf = new GeometryFactory(new PrecisionModel())
  private def sweep(n: Int)(body: scala.util.Random => Unit): Unit =
    (0 until n).foreach(i => body(new scala.util.Random(i * 1000003L)))
  private def randLon(r: scala.util.Random) = r.nextLong(3600000001L) - 1800000000L
  private def randLat(r: scala.util.Random) = r.nextLong(1800000001L) - 900000000L

  // --- exact 128-bit cross product -------------------------------------
  test("crossSign matches BigInteger on random i64 pairs") {
    sweep(500) { r =>
      val (ax, ay, bx, by) = (randLon(r), randLat(r), randLon(r), randLat(r))
      val exact = BigInteger.valueOf(ax).multiply(BigInteger.valueOf(by))
        .subtract(BigInteger.valueOf(ay).multiply(BigInteger.valueOf(bx)))
      assert(Geom.crossSign(ax, ay, bx, by) == exact.signum())
    }
  }

  // --- star-shaped simple polygon generator ----------------------------
  /** Deterministic simple polygon: n vertices around (cx,cy) at varying
    * radii — star-shaped ⇒ always non-self-intersecting. */
  private def starPolygon(cx: Long, cy: Long, n: Int, seed: Long): Array[Long] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).flatMap { i =>
      val ang = 2 * math.Pi * i / n
      val r = 1000000L + rnd.nextInt(9000000) // 0.1°..1.0°
      Seq(cx + (r * math.cos(ang)).toLong, cy + (r * math.sin(ang)).toLong)
    }.toArray
  }

  private def toJts(ring: Array[Long]) = {
    val n = ring.length / 2
    val coords = (0 to n).map { i =>
      val j = i % n
      new Coordinate(ring(2 * j).toDouble, ring(2 * j + 1).toDouble)
    }.toArray
    gf.createPolygon(coords)
  }

  test("pointInRings matches JTS on random star polygons") {
    sweep(60) { r =>
      val seed = r.nextLong(10000L); val n = 5 + r.nextInt(36)
      val ring = starPolygon(100000000L, -200000000L, n, seed)
      val poly = toJts(ring)
      val rnd = new scala.util.Random(seed + 1)
      for (_ <- 0 until 50) {
        val px = 100000000L + rnd.nextLong() % 12000000L
        val py = -200000000L + rnd.nextLong() % 12000000L
        val jts = poly.covers(gf.createPoint(new Coordinate(px.toDouble, py.toDouble)))
        val ours = Geom.pointInRings(px, py, Array(ring))
        // disagreement allowed only within 1 ulp of the boundary (JTS is
        // double-based); require agreement when clearly off-boundary
        val dist = poly.getBoundary.distance(gf.createPoint(new Coordinate(px.toDouble, py.toDouble)))
        if (dist > 2.0) assert(ours == jts, s"seed=$seed p=($px,$py) jts=$jts")
      }
    }
  }

  test("point on vertex and on edge midpoint is inside (pinned boundary rule)") {
    val square = Array[Long](0, 0, 1000, 0, 1000, 1000, 0, 1000)
    assert(Geom.pointInRings(0, 0, Array(square)))
    assert(Geom.pointInRings(500, 0, Array(square)))
    assert(Geom.pointInRings(1000, 500, Array(square)))
    assert(Geom.pointInRings(500, 500, Array(square)))
    assert(!Geom.pointInRings(1001, 500, Array(square)))
    assert(!Geom.pointInRings(-1, 0, Array(square)))
  }

  test("hole parity: point in hole is outside, in shell is inside") {
    val shell = Array[Long](0, 0, 10000, 0, 10000, 10000, 0, 10000)
    val hole = Array[Long](4000, 4000, 6000, 4000, 6000, 6000, 4000, 6000)
    val rings = Array(shell, hole)
    assert(!Geom.pointInRings(5000, 5000, rings))
    assert(Geom.pointInRings(2000, 2000, rings))
    assert(Geom.pointInRings(5000, 4000, rings)) // on hole edge = boundary = inside
  }

  test("shoelace sign matches JTS orientation; canonicalRing normalizes") {
    sweep(60) { r =>
      val seed = r.nextLong(5000L); val n = 4 + r.nextInt(27)
      val ring = starPolygon(0L, 0L, n, seed) // built CCW by construction
      val (sign, _) = Geom.shoelace(ring)
      assert(sign > 0, "star polygon with increasing angle is CCW")
      val ccw = Geom.canonicalRing(ring, wantCCW = true)
      val cw = Geom.canonicalRing(ring, wantCCW = false)
      assert(Geom.shoelace(ccw)._1 > 0)
      assert(Geom.shoelace(cw)._1 < 0)
      // idempotent + rotation-invariant canonical form
      assert(Geom.canonicalRing(ccw, wantCCW = true).toSeq == ccw.toSeq)
      val rotated = ring.drop(6) ++ ring.take(6)
      assert(Geom.canonicalRing(rotated, wantCCW = true).toSeq == ccw.toSeq)
    }
  }

  // --- cells -------------------------------------------------------------
  test("cell encode/bounds are exact inverses; parent/child laws hold") {
    sweep(500) { r =>
      val lat7 = randLat(r); val lon7 = randLon(r)
      val lvl = 1 + r.nextInt(Cells.MaxLevel)
      val c = Cells.encode(lat7, lon7, lvl)
      assert(Cells.level(c) == lvl)
      val (lonLo, latLo, lonHi, latHi) = Cells.bounds(c)
      assert(lon7 >= lonLo && lon7 < lonHi || lon7 == 1800000000L)
      assert(lat7 >= latLo && lat7 < latHi || lat7 == 900000000L)
      assert(Cells.parent(c) == Cells.encode(lat7, lon7, lvl - 1))
      assert(Cells.children(Cells.parent(c)).contains(c))
      assert(Cells.ancestor(c, 0) == Cells.encode(lat7, lon7, 0))
    }
  }

  test("cell ring sizes and wraparound") {
    val c = Cells.encode(0L, 1799999999L, 10) // at antimeridian east edge
    assert(Cells.ring(c, 0).toSeq == Seq(c))
    assert(Cells.ring(c, 1).length == 8) // x wraps, y in range
    assert(Cells.ring(c, 2).length == 16)
    val pole = Cells.encode(899999999L, 0L, 10) // top row: y clamps
    assert(Cells.ring(pole, 1).length == 5)
  }

  // --- cover -------------------------------------------------------------
  test("cover: full cells lie inside polygon; polygon points covered") {
    sweep(25) { r =>
      val seed = r.nextLong(300L); val n = 6 + r.nextInt(19)
      val ring = starPolygon(500000000L, 100000000L, n, seed)
      val poly = toJts(ring)
      val cov = Cover.coverDetailed(Array(ring), maxLevel = 14)
      assert(cov.nonEmpty)
      val cellSet = cov.map(_.cell).toSet
      // full cells: center must be inside (JTS oracle)
      for (cc <- cov if cc.full) {
        val (lo1, la1, lo2, la2) = Cells.bounds(cc.cell)
        val cx = (lo1 + lo2) / 2.0; val cy = (la1 + la2) / 2.0
        assert(poly.covers(gf.createPoint(new Coordinate(cx, cy))),
          s"full cell center outside polygon seed=$seed")
      }
      // random interior points must land in some cover cell at some level
      val rnd = new scala.util.Random(seed + 7)
      for (_ <- 0 until 30) {
        val px = 500000000L + rnd.nextLong() % 11000000L
        val py = 100000000L + rnd.nextLong() % 11000000L
        if (Geom.pointInRings(px, py, Array(ring))) {
          val hit = (0 to 14).exists(l => cellSet.contains(Cells.encode(py, px, l)))
          assert(hit, s"interior point ($px,$py) not covered seed=$seed")
        }
      }
    }
  }

  // --- stitch ------------------------------------------------------------
  test("stitch reassembles rings regardless of member order and direction") {
    sweep(60) { r =>
        val seed = r.nextLong(2000L); val n = 6 + r.nextInt(25)
        val nWays = 2 + r.nextInt(5)
        val ring = starPolygon(0L, 0L, n, seed)
        val nodes = ring.length / 2
        // node ids: arbitrary non-sequential
        val ids = (0 until nodes).map(i => 1000L + i * 7L).toArray
        // split ring into nWays chains (each >= 1 edge), closing the loop
        val cuts = (0 until math.min(nWays, nodes)).map(i => i * nodes / math.min(nWays, nodes)).distinct
        val ways = cuts.indices.map { w =>
          val from = cuts(w)
          val to = if (w == cuts.length - 1) nodes else cuts(w + 1)
          val idxs = (from to to).map(_ % nodes) // inclusive: shared endpoint
          Stitch.WaySeg(
            wayId = 500L + w,
            nodeIds = idxs.map(ids).toArray,
            xs = idxs.map(i => ring(2 * i)).toArray,
            ys = idxs.map(i => ring(2 * i + 1)).toArray)
        }
        val rnd = new scala.util.Random(seed + 13)
        val shuffled = rnd.shuffle(ways.toList).map { w =>
          if (rnd.nextBoolean())
            Stitch.WaySeg(w.wayId, w.nodeIds.reverse, w.xs.reverse, w.ys.reverse)
          else w
        }
        val res = Stitch.stitch(shuffled)
        assert(res.failedWayIds.isEmpty, s"seed=$seed failed=${res.failedWayIds.toSeq}")
        assert(res.rings.length == 1)
        val got = Geom.canonicalRing(res.rings.head, wantCCW = true).toSeq
        val want = Geom.canonicalRing(ring, wantCCW = true).toSeq
        assert(got == want, s"seed=$seed")
    }
  }

  test("stitch flags unclosed chains as failed") {
    val seg = Stitch.WaySeg(1L, Array(1L, 2L, 3L),
      Array(0L, 100L, 200L), Array(0L, 0L, 100L))
    val res = Stitch.stitch(Seq(seg))
    assert(res.rings.isEmpty && res.failedWayIds.toSeq == Seq(1L))
  }

  // --- tiling ------------------------------------------------------------
  test("tile math: known slippy-map anchors") {
    // (0,0) at z=1 -> x=1, y=1
    val t = Tiling.tile(0L, 0L, 1)
    assert(Tiling.z(t) == 1 && Tiling.x(t) == 1 && Tiling.y(t) == 1)
    // center of tile (2,1) at z=2: lon=-45 -> x = floor((135/360)*4)=1
    val t2 = Tiling.tile(0L, -450000000L, 2)
    assert(Tiling.x(t2) == 1 && Tiling.y(t2) == 2)
    // Niue (-19.05, -169.92) z=12: x = floor((10.08/360)*4096) = 114
    val t3 = Tiling.tile(-190500000L, -1699200000L, 12)
    assert(Tiling.x(t3) == 114)
    assert(Tiling.y(t3) == 2268) // precomputed slippy y for lat -19.05
    // poles clamp, no crash
    Tiling.tile(900000000L, 1800000000L, 15)
    Tiling.tile(-900000000L, -1800000000L, 15)
  }
}
