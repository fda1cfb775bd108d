package graft.geo

/** Exact nearest-centre index for kNN (J6): a static 2-d tree over the
  * centre points, stored as three flat primitive arrays permuted into
  * implicit tree order — the node of range [lo, hi) is its midpoint
  * m = (lo + hi) >>> 1, its subtrees are [lo, m) and (m, hi), and the
  * split coordinate alternates lat (even depth) / lon (odd depth). No
  * node objects, no pointers: 24 B per centre (rel, lat7, lon7), so a
  * planet's ~10⁶ admin centres are ~24 MB, shipped once per executor as
  * a Spark broadcast.
  *
  * A search returns exactly what [[graft.expr.RT.knnTop]]'s brute-force
  * scan returns: the top-k by (d2, rel) over the multiset of every
  * (point, centre) pair, d2 being the integer squared planar distance in
  * 1e-7° space with antimeridian wrap. A subtree is skipped only when the
  * distance lower bound of its region is STRICTLY greater than the
  * current k-th d2, so a centre tied with the k-th on d2 but with a lower
  * rel is still reached. The bound is only used inside the coordinate
  * domain (|lat7| ≤ 90°, |lon7| ≤ 180°, where neither the wrap nor the
  * squares can overflow); a query or a centre outside it visits every
  * node, which is the brute-force scan in a different order. */
final class CentreTree private (rels: Array[Long], lats: Array[Long],
    lons: Array[Long], inDomain: Boolean) extends Serializable {
  import CentreTree._

  def size: Int = rels.length

  /** A top-k accumulator for one url's points: `add` each point, then
    * read `result` (relation ids in (d2, rel) order, at most
    * min(k, nPoints · size) of them). */
  def search(nPoints: Int, k: Int): Search =
    new Search(math.min(k.toLong, nPoints.toLong * size).toInt)

  final class Search private[CentreTree] (kk: Int) {
    private val bd = new Array[Long](kk)
    private val br = new Array[Long](kk)
    private var filled = 0
    private var qLat = 0L
    private var qLon = 0L
    private var prune = false

    def add(lat7: Long, lon7: Long): Unit = if (kk > 0) {
      qLat = lat7
      qLon = lon7
      prune = inDomain && inside(lat7, lon7)
      visit(0, size, 0, LatMin, LatMax, LonMin, LonMax, 0L)
    }

    def result: Array[Long] =
      if (filled == kk) br else java.util.Arrays.copyOf(br, filled)

    /** Region [la0, la1] × [lo0, lo1] holds every centre of [lo, hi);
      * `lb` is its distance lower bound from the query. */
    private def visit(lo: Int, hi: Int, depth: Int, la0: Long, la1: Long,
        lo0: Long, lo1: Long, lb: Long): Unit =
      if (lo < hi && !(prune && filled == kk && lb > bd(kk - 1))) {
        val m = (lo + hi) >>> 1
        offer(m)
        if (hi - lo > 1) {
          if ((depth & 1) == 0) {
            val v = lats(m)
            val l = bound(la0, v, lo0, lo1)
            val r = bound(v, la1, lo0, lo1)
            if (l <= r) {
              visit(lo, m, depth + 1, la0, v, lo0, lo1, l)
              visit(m + 1, hi, depth + 1, v, la1, lo0, lo1, r)
            } else {
              visit(m + 1, hi, depth + 1, v, la1, lo0, lo1, r)
              visit(lo, m, depth + 1, la0, v, lo0, lo1, l)
            }
          } else {
            val v = lons(m)
            val l = bound(la0, la1, lo0, v)
            val r = bound(la0, la1, v, lo1)
            if (l <= r) {
              visit(lo, m, depth + 1, la0, la1, lo0, v, l)
              visit(m + 1, hi, depth + 1, la0, la1, v, lo1, r)
            } else {
              visit(m + 1, hi, depth + 1, la0, la1, v, lo1, r)
              visit(lo, m, depth + 1, la0, la1, lo0, v, l)
            }
          }
        }
      }

    /** Squared distance from the query to the nearest point of the
      * region; the lon gap is measured around the antimeridian too.
      * Only a valid bound when `prune` holds; otherwise it merely
      * orders the children. */
    private def bound(la0: Long, la1: Long, lo0: Long, lo1: Long): Long = {
      val dlat = if (qLat < la0) la0 - qLat else if (qLat > la1) qLat - la1 else 0L
      val dlon = if (qLon >= lo0 && qLon <= lo1) 0L
        else math.min(wrap(qLon - lo0), wrap(qLon - lo1))
      dlat * dlat + dlon * dlon
    }

    /** Insertion into the (d2, rel)-sorted buffer — [[graft.expr.RT.knnTop]]'s. */
    private def offer(c: Int): Unit = {
      val dlat = qLat - lats(c)
      val dlon = wrap(qLon - lons(c))
      val d2 = dlat * dlat + dlon * dlon
      val r = rels(c)
      if (filled < kk || d2 < bd(kk - 1) || (d2 == bd(kk - 1) && r < br(kk - 1))) {
        var j = if (filled < kk) { filled += 1; filled - 1 } else kk - 1
        while (j > 0 && (bd(j - 1) > d2 || (bd(j - 1) == d2 && br(j - 1) > r))) {
          bd(j) = bd(j - 1); br(j) = br(j - 1); j -= 1
        }
        bd(j) = d2; br(j) = r
      }
    }
  }
}

object CentreTree {
  private val LatMin = -900000000L
  private val LatMax = 900000000L
  private val LonMin = -1800000000L
  private val LonMax = 1800000000L

  private def inside(lat7: Long, lon7: Long): Boolean =
    lat7 >= LatMin && lat7 <= LatMax && lon7 >= LonMin && lon7 <= LonMax

  /** |Δlon| taken the short way round — the wrap rule of RT.knnTop. */
  @inline private def wrap(d: Long): Long = {
    val a = if (d < 0) -d else d
    if (a > 1800000000L) 3600000000L - a else a
  }

  /** Builds the tree from (rel, lat7, lon7) rows in O(n log n): each
    * level places its split by quickselect, never a full sort. */
  def build(cents: Seq[(Long, Long, Long)]): CentreTree = {
    val rels = cents.map(_._1).toArray
    val lats = cents.map(_._2).toArray
    val lons = cents.map(_._3).toArray
    def key(lat: Boolean, i: Int): Long = if (lat) lats(i) else lons(i)
    def swap(a: Array[Long], i: Int, j: Int): Unit = {
      val t = a(i); a(i) = a(j); a(j) = t
    }
    // Wirth's selection over [l, r]: afterwards every key left of `kth`
    // is ≤ key(kth) and every key right of it is ≥ key(kth)
    def select(lo: Int, hi: Int, kth: Int, lat: Boolean): Unit = {
      var l = lo
      var r = hi
      while (l < r) {
        val x = key(lat, kth)
        var i = l
        var j = r
        while (i <= j) {
          while (key(lat, i) < x) i += 1
          while (x < key(lat, j)) j -= 1
          if (i <= j) {
            swap(rels, i, j); swap(lats, i, j); swap(lons, i, j)
            i += 1; j -= 1
          }
        }
        if (j < kth) l = i
        if (kth < i) r = j
      }
    }
    def split(lo: Int, hi: Int, depth: Int): Unit = if (hi - lo > 1) {
      val m = (lo + hi) >>> 1
      select(lo, hi - 1, m, (depth & 1) == 0)
      split(lo, m, depth + 1)
      split(m + 1, hi, depth + 1)
    }
    split(0, rels.length, 0)
    val inDomain = lats.indices.forall(i => inside(lats(i), lons(i)))
    new CentreTree(rels, lats, lons, inDomain)
  }
}
