package graft.jobs

import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.geo.{Cells, Geom}
import graft.pbf.PbfRead

class AdminAreasSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fixture = "/root/reference/tests/fixtures/niue-230612.osm.pbf"
  private lazy val areas = {
    val osm = PbfRead.read(spark, fixture)
    AdminAreas.build(spark, osm).collect().sortBy(_.relationId)
  }

  test("golden admin set: exactly the 14 fixture relations, all complete (FIXTURES.md §1)") {
    assert(areas.map(_.relationId).toSet == (1558543L to 1558556L).toSet)
    assert(areas.forall(_.complete), s"incomplete: ${areas.filterNot(_.complete).map(_.relationId).toSeq}")
    val country = areas.find(_.relationId == 1558556L).get
    assert(country.adminLevel == 2 && country.name == "Niuē")
    assert(areas.count(_.adminLevel == 8) == 13)
  }

  test("every area stitches to exactly one closed valid ring with CCW winding") {
    val gf = new GeometryFactory()
    for (a <- areas) {
      assert(a.rings.length == 1, s"rel ${a.relationId} rings=${a.rings.length}")
      val ring = a.rings.head.toArray
      assert(ring.length >= 6)
      assert(Geom.shoelace(ring)._1 > 0, s"rel ${a.relationId} not CCW")
      // JTS validity oracle
      val n = ring.length / 2
      val coords = (0 to n).map { i =>
        val j = i % n
        new Coordinate(ring(2 * j).toDouble, ring(2 * j + 1).toDouble)
      }.toArray
      assert(gf.createPolygon(coords).isValid, s"rel ${a.relationId} invalid polygon")
    }
  }

  test("admin_centre nodes resolve; country centre is node 448768937's coords") {
    assert(areas.forall(a => a.centreLat7.isDefined && a.centreLon7.isDefined))
    val osm = PbfRead.read(spark, fixture)
    val centre = osm.filter(e => e.kind == graft.model.OsmKind.Node && e.id == 448768937L).head()
    val country = areas.find(_.relationId == 1558556L).get
    assert(country.centreLat7.get == centre.lat7.get)
    assert(country.centreLon7.get == centre.lon7.get)
  }

  test("admin_centre lies inside its own polygon (PIP cross-check)") {
    for (a <- areas) {
      val rings = a.rings.map(_.toArray).toArray
      assert(Geom.pointInRings(a.centreLon7.get, a.centreLat7.get, rings),
        s"centre of ${a.name} (${a.relationId}) outside its polygon")
    }
  }

  test("cover table: country cover contains the centre's cell; full cells nest") {
    val ds = spark.createDataset(areas.toSeq)
    val cov = AdminAreas.coverTableDetailed(spark, ds, maxLevel = 14).collect()
    assert(cov.nonEmpty)
    val country = areas.find(_.relationId == 1558556L).get
    val countryCells = cov.filter(_.relationId == 1558556L).map(_.cell).toSet
    val centreHit = (0 to 14).exists(l =>
      countryCells.contains(Cells.encode(country.centreLat7.get, country.centreLon7.get, l)))
    assert(centreHit)
  }

  test("incremental update after a diff batch equals the full rebuild; touched set is minimal") {
    import graft.model.{OsmEntity, OsmKind}
    val snap = PbfRead.read(spark, fixture).cache()
    val prevAreas = AdminAreas.build(spark, snap).cache()
    // pick one boundary way of relation 1558543 and one node on it
    val adminRel = snap.filter(e => e.kind == OsmKind.Relation && e.id == 1558543L).head()
    val someWayId = adminRel.members.filter(_.mtype == OsmKind.Way).map(_.ref).min
    val way = snap.filter(e => e.kind == OsmKind.Way && e.id == someWayId).head()
    val nodeId = way.refs.head
    val node = snap.filter(e => e.kind == OsmKind.Node && e.id == nodeId).head()
    val diffs = Seq(
      // geometry change: move one boundary node ~10m
      node.copy(version = node.version + 1,
        lat7 = node.lat7.map(_ + 1000L), tsMillis = node.tsMillis + 1000),
      // delete a whole admin relation
      OsmEntity(OsmKind.Relation, 1558544L, 99, visible = false, None, None,
        0L, 1L, 1, "u", Nil, Nil, Nil),
      // tag-only change: rename another relation
      snap.filter(e => e.kind == OsmKind.Relation && e.id == 1558545L).head() match {
        case r => r.copy(version = r.version + 1,
          tags = r.tags.map(t => if (t.k == "name") t.copy(v = "Vaiea Renamed") else t))
      }
    ).toDS()
    val r = AdminAreas.incrementalUpdate(spark, snap, prevAreas, diffs)
    val (next, incr) = (r.snapshot, r.areas)
    val full = AdminAreas.build(spark, next)
    def key(a: AdminAreas.AdminArea) =
      (a.relationId, a.adminLevel, a.name, a.rings, a.centreLat7, a.centreLon7, a.complete)
    assert(incr.collect().map(key).sortBy(_._1).toSeq ==
      full.collect().map(key).sortBy(_._1).toSeq)
    // cover merge ≡ full recompute of the cover on the merged areas
    val prevCover = AdminAreas.coverTableDetailed(spark, prevAreas, 12)
    val mergedCover = AdminAreas.incrementalCover(spark, prevCover,
      r.rebuilt, r.touched, 12).collect()
    val fullCover = AdminAreas.coverTableDetailed(spark, full, 12).collect()
    def ckey(c: AdminAreas.CoverRowEx) =
      (c.relationId, c.cell, c.full, c.cornerInside, c.fallback, c.edges)
    assert(mergedCover.map(ckey).sortBy(c => (c._1, c._2)).toSeq ==
      fullCover.map(ckey).sortBy(c => (c._1, c._2)).toSeq)
    val got = incr.collect().sortBy(_.relationId)
    assert(!got.exists(_.relationId == 1558544L), "deleted relation must drop out")
    assert(got.find(_.relationId == 1558545L).get.name == "Vaiea Renamed")
    // geometry actually moved vs the previous build
    val prevRing = prevAreas.collect().find(_.relationId == 1558543L).get.rings
    assert(got.find(_.relationId == 1558543L).get.rings != prevRing)
    // minimality: only relations that reference the moved node's way
    // (or the node itself), plus the two directly-changed relations
    val touched = AdminAreas.touchedRelations(spark, snap, next, diffs)
      .collect().map(_.getLong(0)).toSet
    val waysWithNode = snap.filter(e => e.kind == OsmKind.Way && e.visible)
      .collect().filter(_.refs.contains(nodeId)).map(_.id).toSet
    val expectedGeom = snap
      .filter(e => e.kind == OsmKind.Relation && e.visible)
      .collect()
      .filter(r => r.members.exists(m => m.mtype == OsmKind.Way && waysWithNode(m.ref))
        || r.members.exists(m => m.mtype == OsmKind.Node && m.ref == nodeId))
      .map(_.id).toSet
    assert(touched == expectedGeom ++ Set(1558544L, 1558545L), s"touched=$touched")
    assert(touched.size < prevAreas.count(), "must not dirty the whole admin set")
  }
}
