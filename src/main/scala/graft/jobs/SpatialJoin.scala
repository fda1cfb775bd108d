package graft.jobs

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{GeoFunctions => G}
import graft.geo.{CentreTree, CoverIndex}
import graft.jobs.AdminAreas.{AdminArea, CoverRowEx}
import graft.util.Obs

/** The flagship pipeline (SURVEY.md J5-J8, north rule): geoparse page
  * text → containment probe against the compacted admin cover (cell
  * lookup at each cover level + ray-casting refine for boundary cells)
  * → exact kNN to the nearest admin centres → z/x/y tile aggregation.
  * Everything is DataFrame + codegen expressions, never a custom
  * physical operator, because the PIP→cell rewrite happens at API level
  * (SURVEY.md §4.3). While the cover fits the broadcast bound the probe
  * is one codegen kernel over a broadcast [[CoverIndex]]; above it the
  * probe is a plain Catalyst cell equi-join (AQE-optimizable).
  *
  * Skew (J8): pages concentrate in few cells (cities). On the kernel
  * path a hot cell costs nothing extra (there is no exchange before the
  * tile aggregate); on the shuffled path AQE's skew-join split divides
  * an oversized join partition at runtime from the shuffle's own map
  * statistics (measured faster than static hot-cell salting:
  * plans/r11/salting_vs_aqe.txt).
  */
object SpatialJoin {

  /** Zoom of the z/x/y tile aggregation (J7). */
  val TileZoom = 12

  final case class Params(
      coverMaxLevel: Int = 17,
      // the containment join's cover side is broadcast as a CoverIndex
      // while it fits (boundary rows carry clipped edges, so rows are
      // wide); a planet-detail cover beyond it takes the shuffled
      // equi-join instead
      coverBroadcastMaxRows: Long = 2000000L,
      // centre sides AT OR UNDER this row count take the DENSE kNN
      // kernel: the whole centre table rides the plan as constant
      // arrays and each point scans it in a codegen loop — exactly the
      // brute-force definition. Per-point cost is O(nCentres), so the
      // bound stays dimension-table-sized; larger centre sides (a
      // planet's ~10⁶ admin centres) take the broadcast CentreTree
      // kernel, whose per-point cost is a tree search. Both return the
      // same rows; the bound only picks the cheaper kernel.
      knnDenseMaxCentres: Long = 1024L)

  /** Geoparse: url + packed coordinate; drops pages with no mention.
    * Column pruning matters here — only (url, text) are read, never
    * html (SURVEY.md §4.2). */
  def geoparsedPoints(pages: DataFrame): DataFrame =
    pagePoints(pages).filter(col("lat7").isNotNull)

  /** [[geoparsedPoints]] without the filter: pages with no mention keep
    * null coordinates, which the containment probe drops by itself.
    * The flagship's join reads this form because Catalyst pushes the
    * null filter below the projection, which parses every page twice. */
  private def pagePoints(pages: DataFrame): DataFrame =
    pages.select(col("url"), G.geoparse_packed(col("text")).as("p"))
      .select(col("url"), G.packed_lat7(col("p")).as("lat7"),
        G.packed_lon7(col("p")).as("lon7"))

  /** Cover-side facts [[containmentJoin]] plans with: the distinct
    * cover levels, the row count, whether any fallback cells exist and,
    * while the cover has at most `coverBroadcastMaxRows` rows, its
    * [[CoverIndex]] as one Spark broadcast. All are properties of the
    * prepared cover, so [[prepare]] computes them once per polygon side
    * and per-page-batch joins plan with ZERO cover-side driver actions. */
  final case class CoverInfo(levels: Seq[Int], nRows: Long, hasFallback: Boolean,
      index: Option[Broadcast[CoverIndex]] = None)

  /** One pass over `cover` (the "spatial cover index" span): its
    * [[coverParts]] give the row count, levels and fallback presence
    * and, when the whole cover has at most `maxRows` rows, the broadcast
    * [[CoverIndex]]. Above the bound there is no index. */
  def coverInfoOf(cover: Dataset[CoverRowEx], maxRows: Long): CoverInfo = {
    val spark = cover.sparkSession
    Obs.span(spark, "spatial cover index") {
      val parts = coverParts(cover, maxRows)
      val n = parts.map(_.n).sum
      val index =
        if (n <= maxRows) Some(spark.sparkContext.broadcast(CoverIndex.build(parts)))
        else None
      CoverInfo(CoverIndex.levelsOf(parts.foldLeft(0)(_ | _.levelMask)).toSeq, n,
        parts.exists(_.fallback), index)
    }._1
  }

  /** One [[CoverIndex.Part]] per partition of `cover`, normally from
    * one job. Each partition keeps its rows while it holds at most `maxRows / P`
    * of them (P partitions), so the driver never receives more than
    * `maxRows` rows in total, whatever the cover's size. Only when the
    * whole cover is within `maxRows` but a skewed partition dropped its
    * rows does a second job fetch the dropped partitions' rows. */
  private[jobs] def coverParts(cover: Dataset[CoverRowEx],
      maxRows: Long): Seq[CoverIndex.Part] = {
    val rdd = cover.rdd
    def partsOf(cap: Long, ids: Seq[Int]) =
      cover.sparkSession.sparkContext.runJob(rdd, (rows: Iterator[CoverRowEx]) => {
        val b = new CoverIndex.PartBuilder(cap)
        rows.foreach(r => b.add(r.relationId, r.cell, r.full, r.cornerInside,
          r.fallback, r.edges))
        b.result()
      }, ids).toSeq
    val nParts = rdd.getNumPartitions
    val first = partsOf(maxRows / math.max(nParts, 1), 0 until nParts)
    val dropped = first.indices.filter(first(_).rels == null)
    if (dropped.isEmpty || first.map(_.n).sum > maxRows) first
    else {
      val again = dropped.zip(partsOf(maxRows, dropped)).toMap
      first.indices.map(i => again.getOrElse(i, first(i)))
    }
  }

  /** The cover rows held by a broadcast [[CoverIndex]], regenerated on
    * the executors, so a prepared cover needs no checkpoint beside its
    * index. */
  private def coverView(spark: SparkSession,
      index: Broadcast[CoverIndex]): Dataset[CoverRowEx] = {
    import spark.implicits._
    val slices = spark.sparkContext.defaultParallelism
    spark.range(0, slices, 1, slices).as[Long].flatMap { i =>
      index.value.rows(i.toInt, slices).map { case (rel, c) =>
        CoverRowEx(rel, c.cell, c.full, c.cornerInside, c.fallback, c.edges.toSeq)
      }
    }
  }

  /** J5: containment join. Returns the points' own columns (at minimum
    * url, lat7, lon7 — any extra columns such as an event timestamp
    * ride through, enabling the streaming window pipeline; they must
    * not collide with `relation_id` or the cover column names) plus
    * `relation_id`, one row per (point, matching cover row).
    *
    * While the cover has at most `coverBroadcastMaxRows` rows (and `info`
    * carries its index), the probe is ONE codegen kernel per point:
    * `explode(cover_probe(lat7, lon7))` walks the point's ancestors at
    * the cover's levels in the broadcast [[CoverIndex]], emits `full`
    * rows directly and runs the localized refine (GeomCell) on boundary
    * rows — no explode to one row per level, no join. Above the bound,
    * each point is exploded into its ancestor cells and shuffle-hash
    * equi-joined with the cover, then filtered by
    * `full OR point_in_cell`, so AQE's skew split applies. On both
    * paths the rare `fallback` cells are candidates refined against the
    * full rings of `polygons`. */
  def containmentJoin(spark: SparkSession, points: DataFrame,
      cover: Dataset[CoverRowEx], polygons: DataFrame, p: Params,
      info: Option[CoverInfo] = None): DataFrame = {
    val outCols = points.columns.toSeq.map(col) :+ col("relation_id")
    // cover-side facts come precomputed from [[Prepared]] or, for direct
    // callers, from ONE pass in [[coverInfoOf]]
    val ci = info.getOrElse(coverInfoOf(cover, p.coverBroadcastMaxRows))
    // each branch recomputes its points — a narrow all-codegen pipeline
    // from the source scan (no shuffle); streaming passes beat
    // materializing 10^7+ rows into the block manager (measured:
    // checkpoint contention inverted 8c vs 32c). Only the rare
    // `fallback` cells re-read the source and touch polygons; covers
    // with none (typical at detail level 17) skip that branch.
    val kernel = ci.index.filter(_ => ci.nRows <= p.coverBroadcastMaxRows)
    val (mainHits, candidates) = kernel match {
      case Some(index) =>
        def probe(fallback: Boolean) = points.select(col("*"), explode(
          G.cover_probe(col("lat7"), col("lon7"), index, fallback)).as("relation_id"))
        (probe(fallback = false), probe(fallback = true))
      case None =>
        val coverDf = cover.toDF("relation_id", "cell", "full", "corner_inside",
          "fallback", "edges")
        val keyed = points
          .withColumn("pcell", G.cell_encode(col("lat7"), col("lon7"), lit(p.coverMaxLevel)))
          .withColumn("jcell", explode(array(
            ci.levels.map(l => G.cell_ancestor(col("pcell"), lit(l))): _*)))
        // the explode's Generate stats are underestimated, so only the
        // explicit hint keeps Spark from broadcasting either side
        val cand = keyed.join(coverDf.hint("shuffle_hash"), col("jcell") === col("cell"))
        (cand.filter(!col("fallback"))
          .filter(col("full") || G.point_in_cell(col("lon7"), col("lat7"), col("cell"),
            col("corner_inside"), col("edges"))),
          cand.filter(col("fallback")))
    }
    val hits = mainHits.select(outCols: _*)
    if (!ci.hasFallback) hits
    else hits.union(candidates.select(outCols: _*)
      .join(polygons, "relation_id")
      .filter(G.point_in_rings(col("lon7"), col("lat7"), col("rings")))
      .select(outCols: _*))
  }

  /** Materialized kNN centre side: checkpointed rows + their count,
    * built once per centre dataset — e.g. inside [[Prepared]] — so every
    * page batch reuses one materialization, one driver-side collect and
    * one broadcast index instead of redoing them per call. */
  final case class CentreIndex(centres: DataFrame, nCentres: Long) {
    /** Centre rows (c_rel, c_lat7, c_lon7) sorted by c_rel, collected
      * ONCE per index — repeated kNN calls over the same prepared centre
      * side (every bench pass, every gate sharing the session prep)
      * reuse the driver-side copy instead of re-running the collect. */
    lazy val collected: Seq[(Long, Long, Long)] = {
      val spark = centres.sparkSession
      import spark.implicits._
      centres.select(col("relation_id"), col("c_lat7"), col("c_lon7"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    }

    /** The exact [[CentreTree]] over [[collected]], built once and
      * shipped to executors as ONE Spark broadcast (24 B per centre, no
      * row bound): tasks carry only its handle, never the centre rows
      * as plan constants. Only built when the tree kernel asks for it
      * (nCentres > knnDenseMaxCentres). */
    lazy val tree: Broadcast[CentreTree] =
      centres.sparkSession.sparkContext.broadcast(CentreTree.build(collected))
  }
  object CentreIndex {
    def of(centres: DataFrame): CentreIndex = {
      // checkpoint first so the count and the later collect read the
      // centre-derivation plan's output once instead of re-running it
      val m = centres.localCheckpoint()
      CentreIndex(m, m.count())
    }
  }

  /** J6: the k nearest admin centres per url, EXACT, as (url, rank 1..k,
    * nn_relation_id). Distance is integer squared planar L2 in 1e-7°
    * space with antimeridian wrap; ranks order by (d2, relation_id) over
    * the multiset of every (point, centre) pair of the url — the
    * brute-force definition the oracles state, deterministic at any
    * parallelism.
    *
    * One plan shape for every centre-side size and every k: points are
    * grouped per url (the only exchange, carrying (url, lat7, lon7)),
    * then one codegen kernel call per url ranks the centres. No join,
    * no page-side fan-out, no cell probing. The kernel depends only on
    * the centre count:
    *  - ≤ knnDenseMaxCentres: [[graft.expr.RT.knnTop]] scans the centre
    *    table shipped as plan-constant arrays;
    *  - above it: [[graft.expr.RT.knnTree]] searches the
    *    [[CentreIndex.tree]] broadcast — a static 2-d tree that skips a
    *    subtree only when its region lies STRICTLY farther than the
    *    current k-th candidate, so its answer is the scan's answer. */
  private def knnRanked(points: DataFrame, centreIdx: CentreIndex, p: Params,
      k: Int): DataFrame = {
    val kernel: Column => Column =
      if (centreIdx.nCentres <= p.knnDenseMaxCentres) {
        val cents = centreIdx.collected
        val (rels, lats, lons) =
          (cents.map(_._1).toArray, cents.map(_._2).toArray, cents.map(_._3).toArray)
        pts => G.knn_top(pts, rels, lats, lons, k)
      } else {
        val tree = centreIdx.tree
        pts => G.knn_tree(pts, tree, k)
      }
    points
      .filter(col("lat7").isNotNull && col("lon7").isNotNull)
      .groupBy("url")
      .agg(collect_list(struct(col("lat7"), col("lon7"))).as("pts"))
      .select(col("url"), posexplode(kernel(col("pts"))))
      .select(col("url"), (col("pos") + 1).cast("int").as("rank"),
        col("col").as("nn_relation_id"))
  }

  def knnCentres(spark: SparkSession, points: DataFrame,
      centres: DataFrame, p: Params): DataFrame =
    knnCentres(spark, points, CentreIndex.of(centres), p)

  /** J6 at k = 1: (url, nn_relation_id); no rows when there are no
    * centres. */
  def knnCentres(spark: SparkSession, points: DataFrame,
      centreIdx: CentreIndex, p: Params): DataFrame =
    knnRanked(points, centreIdx, p, 1).drop("rank")

  def knnCentresK(spark: SparkSession, points: DataFrame,
      centres: DataFrame, p: Params, k: Int): DataFrame =
    knnCentresK(spark, points, CentreIndex.of(centres), p, k)

  /** J6 at rank ≤ k: (url, rank, nn_relation_id), k rows per url. */
  def knnCentresK(spark: SparkSession, points: DataFrame,
      centreIdx: CentreIndex, p: Params, k: Int): DataFrame = {
    require(k >= 1 && k <= centreIdx.nCentres,
      s"k=$k outside [1, nCentres=${centreIdx.nCentres}]")
    knnRanked(points, centreIdx, p, k)
  }

  /** J7: z/x/y raster-tile aggregation of the join output, as (z, x, y,
    * relation_id, n_pages). `leadingKeys` (the streaming path's
    * event-time window) group ahead of the tile and lead the output. */
  def tiles(joined: DataFrame, zoom: Int, leadingKeys: Column*): DataFrame = {
    val counts = joined
      .withColumn("t", G.tile_zxy(col("lat7"), col("lon7"), lit(zoom)))
      .groupBy(leadingKeys ++ Seq(col("t"), col("relation_id")): _*)
      .agg(count(lit(1)).as("n_pages"))
    counts.select(counts.columns.toSeq.take(leadingKeys.length).map(counts.col) ++ Seq(
        lit(zoom).as("z"),
        col("t").bitwiseAND(lit((1L << zoom) - 1)).as("x"),
        shiftrightunsigned(col("t").bitwiseAND(lit((1L << 58) - 1)), zoom).as("y"),
        col("relation_id"), col("n_pages")): _*)
  }

  /** End-to-end: pages + assembled areas → per-url join rows + tiles.
    * `knn` stays a thunk so callers that only want the containment
    * join/tiles never even build the kNN plan. */
  final class Outputs(val joined: DataFrame, knnThunk: () => DataFrame,
      val tileCounts: DataFrame) {
    lazy val knn: DataFrame = knnThunk()
  }

  /** Prepared polygon side: built once, reused across page batches —
    * the cover is a property of the admin dataset, not of the pages.
    * `centreIdx` carries the materialized centre rows + count so every
    * batch's kNN skips the per-call checkpoint + recount; `coverInfo`
    * carries the cover-side planning facts and the broadcast
    * [[CoverIndex]] so every batch's containment join plans without
    * touching the cluster. Within the row bound `cover` is a view
    * regenerated from that broadcast. */
  final case class Prepared(cover: Dataset[CoverRowEx], polygons: DataFrame,
      centres: DataFrame, centreIdx: CentreIndex, coverInfo: CoverInfo)

  /** Centre projection shared by [[prepare]] and the snapshot pipeline
    * (one definition, so the kNN centre contract cannot drift between
    * the interactive and resumable paths): complete areas with a
    * defined centre, in the kNN column layout. */
  def centresOf(areas: DataFrame): DataFrame = areas
    .filter(col("complete") && col("centreLat7").isNotNull &&
      col("centreLon7").isNotNull)
    .select(col("relationId").as("relation_id"),
      col("centreLat7").as("c_lat7"), col("centreLon7").as("c_lon7"))

  /** The polygon side of the containment join. One pass over the
    * freshly built cover, persisted by that same pass, yields its
    * [[CoverInfo]] and, within the row bound, its broadcast index. The
    * index then stands in for the cover (a view regenerated from the
    * broadcast) and the persisted rows are released, so they never sit
    * beside it; above the bound the persisted rows are the cover. */
  private def prepareCore(spark: SparkSession, areas: Dataset[AdminArea],
      p: Params): (Dataset[AdminArea], Dataset[CoverRowEx], CoverInfo, DataFrame) = {
    val complete = areas.filter(_.complete).cache()
    val built = AdminAreas.coverTableDetailed(spark, complete, p.coverMaxLevel).persist()
    val info = coverInfoOf(built, p.coverBroadcastMaxRows)
    val cover = info.index match {
      case Some(index) =>
        built.unpersist(blocking = true)
        coverView(spark, index)
      case None => built
    }
    val polygons = complete.select(col("relationId").as("relation_id"), col("rings"))
      .localCheckpoint()
    (complete, cover, info, polygons)
  }

  /** Containment-only prep — extract-style callers that never build the
    * kNN skip the centre materialization (checkpoint + count) entirely,
    * and the intermediate complete-area cache is freed immediately
    * (every derived set is already materialized). Returns the cover,
    * the polygons and the cover's [[CoverInfo]]. */
  def prepareContainment(spark: SparkSession, areas: Dataset[AdminArea],
      p: Params = Params()): (Dataset[CoverRowEx], DataFrame, CoverInfo) = {
    val (complete, cover, info, polygons) = prepareCore(spark, areas, p)
    complete.unpersist()
    (cover, polygons, info)
  }

  def prepare(spark: SparkSession, areas: Dataset[AdminArea],
      p: Params = Params()): Prepared = {
    val (complete, cover, info, polygons) = prepareCore(spark, areas, p)
    val centres = centresOf(complete.toDF()).localCheckpoint()
    complete.unpersist()
    Prepared(cover, polygons, centres, CentreIndex.of(centres), info)
  }

  def run(spark: SparkSession, pages: DataFrame, areas: Dataset[AdminArea],
      p: Params): Outputs =
    run(spark, pages, prepare(spark, areas, p), p)

  def run(spark: SparkSession, pages: DataFrame, areas: Dataset[AdminArea]): Outputs =
    run(spark, pages, prepare(spark, areas, Params()), Params())

  def run(spark: SparkSession, pages: DataFrame, prep: Prepared,
      p: Params): Outputs = {
    val joined = containmentJoin(spark, pagePoints(pages), prep.cover, prep.polygons,
      p, Some(prep.coverInfo))
    new Outputs(joined, () => knnCentres(spark, geoparsedPoints(pages), prep.centreIdx, p),
      tiles(joined, TileZoom))
  }
}
