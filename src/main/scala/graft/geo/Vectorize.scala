package graft.geo

import scala.collection.mutable

/** Raster→vector polygonization (north rule "raster↔vector"): turn a
  * set of grid cells into the boundary RINGS of its connected regions.
  *
  * Construction: every cell contributes one directed unit edge per
  * side whose 4-neighbour is absent, oriented with the REGION INTERIOR
  * ON THE LEFT (top edge runs east→west, bottom west→east, left
  * north→south, right south→north). Following each incoming edge with
  * the outgoing edge preferred straight > right > back > left
  * decomposes the boundary into cycles where outer rings come out CCW
  * and holes CW automatically — no point-in-polygon pass — and a
  * region pinched at a corner separates into SIMPLE rings (the
  * right-before-left preference pairs each side of the pinch with its
  * own side; preferring left would weld them into one self-touching
  * ring). Collinear runs merge; each ring rotates to its smallest
  * vertex. All arithmetic is exact integer grid math.
  *
  * The core invariant (spec-pinned): Σ signed shoelace areas of a
  * region's rings == its cell count (in cell units). */
object Vectorize {

  private final val E = 0; private final val N = 1
  private final val W = 2; private final val S = 3

  @inline private def pack(x: Long, y: Long): Long = (x << 31) | y

  /** One directed interior-left boundary edge. */
  final case class BEdge(fx: Long, fy: Long, dir: Int, tx: Long, ty: Long)

  /** Boundary rings of ONE 4-connected region given its CELLS — builds
    * the interior-left edge set locally and delegates to
    * [[ringsFromEdges]]. Convenient for specs and small callers; the
    * distributed layer feeds [[ringsFromEdges]] directly so a task
    * never holds more than O(perimeter). */
  def boundaryRings(cells: Iterable[(Long, Long)]): Seq[Seq[Long]] = {
    val set = cells.map { case (x, y) => pack(x, y) }.toSet
    val edges = mutable.ArrayBuffer.empty[BEdge]
    for ((x, y) <- cells) {
      if (!set(pack(x, y + 1))) edges += BEdge(x + 1, y + 1, W, x, y + 1) // top
      if (!set(pack(x, y - 1))) edges += BEdge(x, y, E, x + 1, y) // bottom
      if (!set(pack(x - 1, y))) edges += BEdge(x, y + 1, S, x, y) // left
      if (!set(pack(x + 1, y))) edges += BEdge(x + 1, y, N, x + 1, y + 1) // right
    }
    ringsFromEdges(edges.toSeq)
  }

  /** Assemble closed rings from a region's directed boundary edges
    * ALONE — O(perimeter) memory, never consults the cell set, and
    * deterministic in the edge ARRIVAL ORDER (starts are sorted, the
    * successor choice is a total order). Output: flat [x0,y0,x1,y1,…]
    * rings, outers CCW, holes CW. */
  def ringsFromEdges(edges: Seq[BEdge]): Seq[Seq[Long]] = {
    // out-edges per vertex
    val outs = mutable.HashMap.empty[Long, mutable.ArrayBuffer[BEdge]]
    for (e <- edges)
      outs.getOrElseUpdate(pack(e.fx, e.fy), mutable.ArrayBuffer.empty) += e
    // next(e): at e's target vertex, the unused out-edge with the
    // highest preference straight > right > back > left relative to
    // e's direction — a permutation on directed edges. At a pinch
    // vertex the two incoming directions differ by 180°; preferring
    // the RIGHT turn keeps each walk on its own side of the pinch, so
    // the boundary separates into simple rings instead of one
    // self-touching figure-eight.
    def turnScore(in: Int, out: Int): Int = ((out - in + 5) % 4) match {
      case 1 => 3 // straight
      case 0 => 2 // right
      case 3 => 1 // back
      case _ => 0 // left
    }
    val used = mutable.HashSet.empty[(Long, Long, Int)]
    def key(e: BEdge) = (e.fx, e.fy, e.dir)
    val rings = mutable.ArrayBuffer.empty[Seq[Long]]
    for (start <- edges.sortBy(e => (e.fx, e.fy, e.dir)) if !used(key(start))) {
      val verts = mutable.ArrayBuffer.empty[(Long, Long, Int)] // (x, y, outDir)
      var cur = start
      var guard = 0
      val cap = 4 * edges.length + 8
      while ({ // do-while: close when the walk returns to the start edge
        used += key(cur)
        verts += ((cur.fx, cur.fy, cur.dir))
        val cands = outs(pack(cur.tx, cur.ty))
        val next = cands.filter(c => !used(key(c)))
          .sortBy(c => (-turnScore(cur.dir, c.dir), c.dir))
          .headOption.getOrElse(start)
        guard += 1
        require(guard <= cap, "boundary walk did not close")
        cur = next
        key(cur) != key(start)
      }) ()
      // merge collinear runs: keep vertices where the direction changes
      val n = verts.length
      val kept = (0 until n).collect {
        case i if verts(i)._3 != verts((i + n - 1) % n)._3 =>
          (verts(i)._1, verts(i)._2)
      }
      // rotate to the canonical (smallest) vertex
      val minIdx = kept.indices.minBy(i => (kept(i)._1, kept(i)._2))
      val rot = kept.drop(minIdx) ++ kept.take(minIdx)
      rings += rot.flatMap { case (x, y) => Seq(x, y) }.toSeq
    }
    rings.toSeq
  }

  /** DISTRIBUTED polygonize: cells (one level) → per-region boundary
    * stats + rings. Regions via shared min-label propagation over the
    * 4-adjacency graph (edges built by id arithmetic + one join — no
    * geometry). Boundary EDGES are emitted distributively from the
    * same neighbour-presence join (a side whose neighbour is absent or
    * off-grid is boundary), so the per-region assembly task holds only
    * the O(perimeter) edge set — never the O(area) cell set; cell
    * counts and extents come from an ordinary aggregate. A
    * continent-sized region costs its perimeter, not its area.
    * Output: (region_id = min cell id, n_cells, perimeter, area2,
    * min_x, min_y, max_x, max_y, rings) — area2 == 2·n_cells by the
    * ring-geometry invariant, which makes ring correctness checkable
    * relationally. */
  def vectorize(spark: org.apache.spark.sql.SparkSession,
      cells: org.apache.spark.sql.DataFrame, level: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    require(level >= 1 && level <= 28)
    val c = cells.select(col("cell")).distinct().localCheckpoint()
    val mask = (1L << level) - 1
    val low58 = (1L << 58) - 1
    val xOf = col("cell").bitwiseAND(lit(low58)).bitwiseAND(lit(mask))
    val yOf = shiftrightunsigned(col("cell").bitwiseAND(lit(low58)), level)
    val withXY = c.select(col("cell"), xOf.as("x"), yOf.as("y"))
    // candidate 4-neighbour ids by pure arithmetic (null = off-grid);
    // ONE left join marks each side present/absent: present sides are
    // the adjacency edges, absent sides the directed boundary edges
    val cand = withXY.select(col("cell"), col("x"), col("y"), explode(array(
        struct(lit(E).as("d"), when(col("x") < mask, col("cell") + 1).as("b")),
        struct(lit(N).as("d"),
          when(col("y") < mask, col("cell") + (1L << level)).as("b")),
        struct(lit(W).as("d"), when(col("x") > 0, col("cell") - 1).as("b")),
        struct(lit(S).as("d"),
          when(col("y") > 0, col("cell") - (1L << level)).as("b")))).as("nb"))
      .select(col("cell"), col("x"), col("y"),
        col("nb.d").as("d"), col("nb.b").as("b"))
      .join(c.select(col("cell").as("b"), lit(1).as("present")), Seq("b"), "left")
      .localCheckpoint()
    val edges = cand.filter(col("present").isNotNull)
      .select(col("cell").as("a"), col("b"))
    // directed interior-left boundary edge for each absent side (`d`
    // points AT the absent neighbour; the edge runs along that side)
    val bedges = cand.filter(col("present").isNull).select(col("cell"),
      when(col("d") === W, col("x")).when(col("d") === S, col("x"))
        .otherwise(col("x") + 1).as("fx"),
      when(col("d") === E, col("y")).when(col("d") === S, col("y"))
        .otherwise(col("y") + 1).as("fy"),
      when(col("d") === E, lit(N)).when(col("d") === N, lit(W))
        .when(col("d") === W, lit(S)).otherwise(lit(E)).as("dir"),
      when(col("d") === E, col("x") + 1).when(col("d") === N, col("x"))
        .when(col("d") === W, col("x")).otherwise(col("x") + 1).as("tx"),
      when(col("d") === E, col("y") + 1).when(col("d") === N, col("y") + 1)
        .when(col("d") === W, col("y")).otherwise(col("y")).as("ty"))
    // TWO-LEVEL components — label propagation over raw cells needs
    // O(region CELL diameter) rounds, which is unbounded at planet
    // rasters. Phase 1: one shuffle groups cells into 16×16 BLOCKS and
    // union-finds each block locally (≤256 cells/task). Phase 2:
    // propagation runs on the block-coarsened component graph, whose
    // diameter is the region's extent in BLOCKS — 16× fewer rounds,
    // and the block size is the knob if that is ever not enough.
    val blockShift = 4
    def blockOf(cellCol: org.apache.spark.sql.Column) = {
      val lx = cellCol.bitwiseAND(lit(low58)).bitwiseAND(lit(mask))
      val ly = shiftrightunsigned(cellCol.bitwiseAND(lit(low58)), level)
      shiftleft(shiftrightunsigned(ly, blockShift), 30)
        .bitwiseOR(shiftrightunsigned(lx, blockShift))
    }
    val localComp = withXY
      .select(col("cell"), col("x"), col("y"), blockOf(col("cell")).as("blk"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._4)
      .flatMapGroups { (_, it) =>
        val cs = it.map(t => (t._1, t._2, t._3)).toSeq
        val byXY = cs.map(t => (t._2, t._3) -> t._1).toMap
        val parent = mutable.HashMap.empty[Long, Long]
        def find(v: Long): Long = {
          var r = v
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var cur = v
          while (parent.getOrElse(cur, cur) != cur) {
            val nxt = parent(cur); parent(cur) = r; cur = nxt
          }
          r
        }
        def union(a: Long, b: Long): Unit = {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // min-id root so labels stay canonical
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        for ((id, x, y) <- cs) {
          byXY.get((x + 1, y)).foreach(union(id, _))
          byXY.get((x, y + 1)).foreach(union(id, _))
        }
        cs.iterator.map { case (id, _, _) => (id, find(id)) }
      }
      .toDF("cell", "lcomp")
      .localCheckpoint()
    val cellBlk = (cl: org.apache.spark.sql.Column) => blockOf(cl)
    val crossEdges = edges
      .filter(cellBlk(col("a")) =!= cellBlk(col("b")))
    val superEdges = crossEdges
      .join(localComp.select(col("cell").as("a"), col("lcomp").as("la")), "a")
      .join(localComp.select(col("cell").as("b"), col("lcomp").as("lb")), "b")
      .select(col("la"), col("lb"))
    val superComp = graft.util.LabelProp.components(spark, superEdges,
      nodes = Some(localComp.select(col("lcomp").as("node")).distinct()),
      shufflePartitions = Some(8))
    val comp = localComp
      .join(superComp, localComp("lcomp") === superComp("node"))
      .select(col("cell"), col("comp"))
      .localCheckpoint()
    // cell counts + extents: a plain Tungsten aggregate — no gather
    val cellStats = comp
      .select(col("comp").as("region_id"), xOf.as("x"), yOf.as("y"))
      .groupBy("region_id")
      .agg(count(lit(1)).as("n_cells"),
        min("x").as("min_x"), min("y").as("min_y"),
        max("x").as("max_x"), max("y").as("max_y"))
    // ring assembly over the O(perimeter) edge set per region — the
    // walk never needs the cells (perimeter == the unit-edge count)
    val ringStats = bedges
      .join(comp, "cell")
      .select(col("comp").as("region_id"),
        col("fx"), col("fy"), col("dir"), col("tx"), col("ty"))
      .as[(Long, Long, Long, Int, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (rid, it) =>
        val es = it.map(t => BEdge(t._2, t._3, t._4, t._5, t._6)).toSeq
        val rings = ringsFromEdges(es)
        (rid, es.size.toLong, rings.map(area2).sum, rings)
      }
      .toDF("region_id", "perimeter", "area2", "rings")
    cellStats.join(ringStats, Seq("region_id"))
      .select("region_id", "n_cells", "perimeter", "area2",
        "min_x", "min_y", "max_x", "max_y", "rings")
  }

  /** Signed doubled shoelace area of a flat ring — exact. */
  def area2(ring: Seq[Long]): Long = {
    val n = ring.length / 2
    var acc = 0L
    var ax = ring(2 * (n - 1)); var ay = ring(2 * (n - 1) + 1)
    var i = 0
    while (i < n) {
      val bx = ring(2 * i); val by = ring(2 * i + 1)
      acc += ax * by - ay * bx
      ax = bx; ay = by
      i += 1
    }
    acc
  }
}
