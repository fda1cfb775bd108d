package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.model.{OsmEntity, OsmKind, OsmMember, OsmTag}
import graft.pbf.PbfWrite
import graft.synth.Pages

/** Sizes of the synthetic world: a `grid` × `grid` array of admin_level=8
  * villages inside one admin_level=2 country, `roads` road ways of 10
  * nodes each and `pois` loose nodes (10 % of them tagged). */
final case class WorldSize(grid: Int, roads: Int, pois: Int)

/** One admin polygon as the generator drew it: the oracle side of every
  * containment and kNN check. `ring` is flat [lon0, lat0, lon1, lat1, …]
  * (the x = lon7, y = lat7 layout `Geom.pointInRings` takes). */
final case class Polygon(relationId: Long, ring: Array[Long],
    centreLat7: Long, centreLon7: Long)

/** Seeded synthetic OSM world over the Niue box `synth.Pages` draws its
  * in-box coordinates from, so generated pages land in the polygons.
  *
  * Every village ring is 16 member ways of 8 vertices (consecutive ways
  * share their end nodes); member order is shuffled, about half the ways
  * are reversed, and each village has one `admin_centre` node member.
  * One country relation encloses the grid. Roads and POIs fill the box.
  * uid / user / changeset / timestamp / version vary per entity.
  *
  * Generation is one single-threaded pass of one `SplittableRandom`, so
  * the same (size, seed) gives the same entities and the same PBF bytes
  * at any Spark parallelism. */
final class World(val size: WorldSize, val seed: Long) {
  import World._

  private val rng = new java.util.SplittableRandom(seed)

  val nodes = ArrayBuffer.empty[OsmEntity]
  val ways = ArrayBuffer.empty[OsmEntity]
  val relations = ArrayBuffer.empty[OsmEntity]
  /** Villages in grid order (row i = latitude band, column j). */
  val villages = ArrayBuffer.empty[Polygon]
  private val users = scala.collection.mutable.HashSet.empty[Int]
  private val changesets = scala.collection.mutable.HashSet.empty[Long]

  private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.length))

  /** (version, tsMillis, changeset, uid, user); timestamps are whole
    * seconds because PBF carries them at 1 s granularity. */
  private def meta(): (Int, Long, Long, Int, String) = {
    val uid = 1 + rng.nextInt(UserPool)
    val cs = 1L + rng.nextInt(ChangesetPool)
    users += uid
    changesets += cs
    (1 + rng.nextInt(3), (BaseEpochS + rng.nextInt(EpochSpanS)) * 1000L, cs, uid,
      s"mapper_$uid")
  }

  private def node(lat7: Long, lon7: Long, tags: Seq[OsmTag]): Long = {
    val (v, ts, cs, uid, user) = meta()
    val id = nodes.length + 1L
    nodes += OsmEntity(OsmKind.Node, id, v, visible = true, Some(lat7), Some(lon7),
      ts, cs, uid, user, tags, Nil, Nil)
    id
  }

  private def way(refs: Seq[Long], tags: Seq[OsmTag]): Long = {
    val (v, ts, cs, uid, user) = meta()
    val id = ways.length + 1L
    ways += OsmEntity(OsmKind.Way, id, v, visible = true, None, None,
      ts, cs, uid, user, tags, refs, Nil)
    id
  }

  private def shuffled[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** One boundary relation over a closed ring of node ids: `nWays` ways
    * of `vertsPerWay` vertices, shuffled members, ~half reversed. */
  private def boundary(ringNodes: IndexedSeq[Long], vertsPerWay: Int,
      level: Int, name: String, centre: Long): Long = {
    val n = ringNodes.length
    val step = vertsPerWay - 1
    val wayTags = Seq(OsmTag("boundary", "administrative"),
      OsmTag("admin_level", level.toString))
    val wayIds = (0 until n / step).map { w =>
      val refs = (0 to step).map(k => ringNodes((w * step + k) % n))
      way(if (rng.nextBoolean()) refs.reverse else refs, wayTags)
    }
    val outer = shuffled(wayIds).map(id => OsmMember(OsmKind.Way, id, "outer"))
    val at = rng.nextInt(outer.length + 1)
    val members = (outer.take(at) :+ OsmMember(OsmKind.Node, centre, "admin_centre")) ++
      outer.drop(at)
    val (v, ts, cs, uid, user) = meta()
    val id = relations.length + 1L
    relations += OsmEntity(OsmKind.Relation, id, v, visible = true, None, None,
      ts, cs, uid, user,
      Seq(OsmTag("type", "boundary"), OsmTag("boundary", "administrative"),
        OsmTag("admin_level", level.toString), OsmTag("name", name)),
      Nil, members)
    id
  }

  private val g = size.grid
  private val cellLat = (Pages.LatHi - Pages.LatLo) / g
  private val cellLon = (Pages.LonHi - Pages.LonLo) / g

  // villages: star-shaped rings (strictly increasing angle, jittered
  // radius) inside their grid cell, leaving gaps that only the country
  // covers
  for (i <- 0 until g; j <- 0 until g) {
    val cLat = Pages.LatLo + i * cellLat + cellLat / 2
    val cLon = Pages.LonLo + j * cellLon + cellLon / 2
    val verts = VillageWays * (VillageVertsPerWay - 1)
    val coords = (0 until verts).map { k =>
      val theta = 2 * math.Pi * k / verts
      val rho = 0.55 + 0.3 * rng.nextDouble()
      (cLat + math.round(rho * cellLat / 2 * StrictMath.sin(theta)),
        cLon + math.round(rho * cellLon / 2 * StrictMath.cos(theta)))
    }
    val ringNodes = coords.map { case (la, lo) => node(la, lo, Nil) }
    val centre = node(cLat, cLon, Seq(OsmTag("place", "village"),
      OsmTag("name", s"Village $i-$j")))
    val rel = boundary(ringNodes, VillageVertsPerWay, 8, s"Village $i-$j", centre)
    villages += Polygon(rel, coords.flatMap { case (la, lo) => Seq(lo, la) }.toArray,
      cLat, cLon)
  }

  /** The country: a rectangle just outside the box, 4 ways of 9 vertices. */
  val country: Polygon = {
    val m = CountryMargin
    val (la0, la1) = (Pages.LatLo - m, Pages.LatHi + m)
    val (lo0, lo1) = (Pages.LonLo - m, Pages.LonHi + m)
    val side = CountryVertsPerWay - 1
    def lerp(a: Long, b: Long, k: Int) = a + (b - a) * k / side
    val coords =
      (0 until side).map(k => (la0, lerp(lo0, lo1, k))) ++
        (0 until side).map(k => (lerp(la0, la1, k), lo1)) ++
        (0 until side).map(k => (la1, lerp(lo1, lo0, k))) ++
        (0 until side).map(k => (lerp(la1, la0, k), lo0))
    val ringNodes = coords.map { case (la, lo) => node(la, lo, Nil) }
    val (cLat, cLon) = ((la0 + la1) / 2, (lo0 + lo1) / 2)
    val centre = node(cLat, cLon, Seq(OsmTag("place", "country"),
      OsmTag("name", "Synthland")))
    val rel = boundary(ringNodes, CountryVertsPerWay, 2, "Synthland", centre)
    Polygon(rel, coords.flatMap { case (la, lo) => Seq(lo, la) }.toArray, cLat, cLon)
  }

  private def inBox(): (Long, Long) =
    (Pages.LatLo + (rng.nextDouble() * (Pages.LatHi - Pages.LatLo)).toLong,
      Pages.LonLo + (rng.nextDouble() * (Pages.LonHi - Pages.LonLo)).toLong)

  for (r <- 0 until size.roads) {
    var (la, lo) = inBox()
    val refs = (0 until RoadNodes).map { _ =>
      la = math.min(Pages.LatHi, math.max(Pages.LatLo, la + rng.nextInt(4001) - 2000))
      lo = math.min(Pages.LonHi, math.max(Pages.LonLo, lo + rng.nextInt(4001) - 2000))
      node(la, lo, Nil)
    }
    way(refs, Seq(OsmTag("highway", pick(Highways)), OsmTag("name", s"Road $r")))
  }

  for (p <- 0 until size.pois) {
    val (la, lo) = inBox()
    val tags = if (rng.nextInt(10) == 0)
        Seq(OsmTag("amenity", pick(Amenities)), OsmTag("name", s"Poi $p"))
      else Nil
    node(la, lo, tags)
  }

  def entityCount: Long = nodes.length.toLong + ways.length + relations.length

  /** Row counts of the 10 apidb tables `Normalize.demux` must produce. */
  val tableCounts: Map[String, Long] = Map(
    "nodes" -> nodes.length.toLong,
    "node_tags" -> nodes.map(_.tags.length.toLong).sum,
    "ways" -> ways.length.toLong,
    "way_tags" -> ways.map(_.tags.length.toLong).sum,
    "way_nodes" -> ways.map(_.refs.length.toLong).sum,
    "relations" -> relations.length.toLong,
    "relation_tags" -> relations.map(_.tags.length.toLong).sum,
    "relation_members" -> relations.map(_.members.length.toLong).sum,
    "users" -> users.size.toLong,
    "changesets" -> changesets.size.toLong)

  /** All admin polygons: the villages and the country. */
  val polygons: IndexedSeq[Polygon] = villages.toIndexedSeq :+ country

  /** Relations containing the point, by the generator's own rings
    * (`Geom.pointInRings`), probing only the grid neighbourhood. */
  def containing(lat7: Long, lon7: Long): Seq[Long] = {
    val i = Math.floorDiv(lat7 - Pages.LatLo, cellLat).toInt
    val j = Math.floorDiv(lon7 - Pages.LonLo, cellLon).toInt
    val near = for {
      a <- i - 1 to i + 1 if a >= 0 && a < g
      b <- j - 1 to j + 1 if b >= 0 && b < g
    } yield villages(a * g + b)
    (near :+ country).filter(p =>
      graft.geo.Geom.pointInRings(lon7, lat7, Array(p.ring))).map(_.relationId)
  }

  /** Brute-force nearest centre by (d2, relation_id): wrapped-longitude
    * squared distance in 1e-7° units, the kNN join's contract. */
  def nearestCentre(lat7: Long, lon7: Long): Long = {
    var best = (Long.MaxValue, Long.MaxValue)
    for (p <- polygons) {
      val dLat = lat7 - p.centreLat7
      val dLonRaw = math.abs(lon7 - p.centreLon7)
      val dLon = math.min(dLonRaw, 3600000000L - dLonRaw)
      val d = (dLat * dLat + dLon * dLon, p.relationId)
      if (d._1 < best._1 || (d._1 == best._1 && d._2 < best._2)) best = d
    }
    best._2
  }

  /** The admin diff batch: move one boundary node of every 100th village,
    * delete one village and rename another (the three ops of the
    * incremental-maintenance gate, scaled to the grid). */
  def diffBatch: Seq[OsmEntity] = {
    def rel(v: Int) = relations((villages(v).relationId - 1).toInt)
    val moves = villages.indices.filter(_ % 100 == 0).map { v =>
      val firstWay = rel(v).members.filter(_.mtype == OsmKind.Way).map(_.ref).min
      val n = nodes((ways((firstWay - 1).toInt).refs.head - 1).toInt)
      n.copy(version = n.version + 1, lat7 = n.lat7.map(_ + 1000L),
        tsMillis = n.tsMillis + 1000L)
    }.distinctBy(_.id)
    val deleted = rel(1)
    val renamed = rel(2)
    moves ++ Seq(
      deleted.copy(version = deleted.version + 1, visible = false,
        tsMillis = deleted.tsMillis + 1000L, tags = Nil, members = Nil),
      renamed.copy(version = renamed.version + 1, tsMillis = renamed.tsMillis + 1000L,
        tags = renamed.tags.map(t =>
          if (t.k == "name") t.copy(v = t.v + " Renamed") else t)))
  }

  /** Write the world as one `.osm.pbf` (Type_then_ID order, 8000-entity
    * blocks) through the engine's public block encoder. */
  def writePbf(path: java.nio.file.Path): Unit = {
    val out = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(path))
    try {
      out.write(PbfWrite.headerFrame(historical = false))
      for (kind <- Seq(nodes, ways, relations); block <- kind.grouped(BlockSize))
        out.write(PbfWrite.encodeBlock(block.toSeq))
    } finally out.close()
  }
}

object World {
  val VillageWays = 16
  val VillageVertsPerWay = 8
  val CountryVertsPerWay = 9
  val CountryMargin = 200000L // 0.02°
  val RoadNodes = 10
  val BlockSize = 8000
  val UserPool = 400
  val ChangesetPool = 4000
  val BaseEpochS = 1500000000L
  val EpochSpanS = 200000000
  val Highways = Seq("residential", "tertiary", "service", "track", "unclassified")
  val Amenities = Seq("cafe", "school", "shop", "clinic", "church", "bank")
}
