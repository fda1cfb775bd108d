package graft.jobs

import graft.geo.Cells

/** Fixture-free polygon sides and points shared by the containment-join
  * specs. */
object SpatialJoinWorlds {

  /** The 32×32 admin grid: grid cells ~0.53°, offset so rectangle edges
    * do NOT align to cell walls (lattice-aligned edges are [[lattice]]'s
    * job). */
  val n = 32
  val lon0 = -171234567L
  val lat0 = -205678901L
  val step = 5300000L

  lazy val gridAreas: Seq[AdminAreas.AdminArea] =
    for (i <- 0 until n; j <- 0 until n) yield {
      val lo = lon0 + i * step; val hi = lo + step - 700001L
      val la = lat0 + j * step; val lb = la + step - 700001L
      AdminAreas.AdminArea((i * n + j).toLong, 8, s"r$i-$j",
        Seq(Seq(lo, la, hi, la, hi, lb, lo, lb)),
        Some((la + lb) / 2), Some((lo + hi) / 2), complete = true)
    }

  /** 20k deterministic (url, lat7, lon7) points over the grid and a
    * margin around it. */
  lazy val gridPoints: Seq[(String, Long, Long)] =
    (0 until 20000).map { k =>
      val h1 = k * 2654435761L
      val h2 = k * 2971215073L
      ("p" + k,
        lat0 - 3000000L + Math.floorMod(h1, n * step + 6000000L),
        lon0 - 3000000L + Math.floorMod(h2, n * step + 6000000L))
    }

  /** A cluster of 20k extra points in a ~0.01° square inside polygon
    * (5, 7): every one lands on the same join cell, so on the shuffled
    * path one partition carries all of them. */
  lazy val hotPoints: Seq[(String, Long, Long)] =
    (0 until 20000).map { k =>
      ("h" + k, lat0 + 7 * step + step / 2 + (k % 317) * 300L,
        lon0 + 5 * step + step / 2 + (k * 7 % 331) * 300L)
    }

  /** A square aligned to level-10 cell walls: at cover level 12 its SW
    * corners lie exactly ON edges, so the cover flags fallback cells.
    * Returns the area and its SW corner (lat7, lon7). */
  def lattice: (AdminAreas.AdminArea, (Long, Long)) = {
    val c = Cells.encode(100000000L, 200000000L, 10)
    val (lo, la, hi, lb) = Cells.bounds(c)
    val ring = Seq(lo, la, hi + (hi - lo), la,
      hi + (hi - lo), lb + (lb - la), lo, lb + (lb - la))
    (AdminAreas.AdminArea(7L, 4, "lattice", Seq(ring),
      Some((la + lb) / 2), Some((lo + hi) / 2), complete = true), (la, lo))
  }
}
