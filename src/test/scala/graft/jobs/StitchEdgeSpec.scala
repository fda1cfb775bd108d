package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.geo.Geom
import graft.model.{OsmEntity, OsmKind, OsmMember, OsmTag}

/** Edge cases of the per-relation local stitch, each in its own
  * relation, against the iterative route (`localMaxSegs = 0`) as the
  * oracle: StitchScaleSpec pins the two routes equal on regular worlds. */
class StitchEdgeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val entities = scala.collection.mutable.ArrayBuffer.empty[OsmEntity]

  private def node(id: Long, lon: Long, lat: Long): Long = {
    entities += OsmEntity(OsmKind.Node, id, 1, visible = true, Some(lat), Some(lon),
      1000L, 1L, 1, "u", Nil, Nil, Nil)
    id
  }
  private def way(id: Long, refs: Seq[Long]): OsmMember = {
    entities += OsmEntity(OsmKind.Way, id, 1, visible = true, None, None,
      1000L, 1L, 1, "u", Nil, refs, Nil)
    OsmMember(OsmKind.Way, id, "outer")
  }
  private def relation(id: Long, members: Seq[OsmMember]): Unit =
    entities += OsmEntity(OsmKind.Relation, id, 1, visible = true, None, None,
      1000L, 1L, 1, "u",
      Seq(OsmTag("type", "boundary"), OsmTag("boundary", "administrative"),
        OsmTag("admin_level", "8"), OsmTag("name", s"r$id")),
      Nil, members)

  /** A square of side `s` at (x, y), 8 boundary nodes, split into `nWays`
    * open member ways (1 = one closed way), every other way reversed. */
  private def square(base: Long, x: Long, y: Long, s: Long, nWays: Int): Seq[OsmMember] = {
    val h = s / 2
    val pts = Seq((0L, 0L), (h, 0L), (s, 0L), (s, h), (s, s), (h, s), (0L, s), (0L, h))
    val ids = pts.zipWithIndex.map { case ((dx, dy), i) => node(base + i, x + dx, y + dy) }
    val cut = (0 to nWays).map(_ * 8 / nWays)
    cut.sliding(2).zipWithIndex.map { case (Seq(a, b), w) =>
      val refs = (a to b).map(i => ids(i % 8))
      way(base + 100 + w, if (w % 2 == 1) refs.reverse else refs)
    }.toSeq
  }
  private def centre(id: Long, x: Long, y: Long) =
    OsmMember(OsmKind.Node, node(id, x, y), "admin_centre")

  private val MissingWay = 1L
  private val OneNodeWay = 2L
  private val ClosedBeside = 3L
  private val Holes = 4L
  private val OuterAndEmpty = 5L
  private val NoCentre = 6L

  // one of the ring's member ways does not exist
  relation(MissingWay, square(1000, 0, 0, 10000, 4) :+ centre(1900, 5000, 5000))
  entities.filterInPlace(e => !(e.kind == OsmKind.Way && e.id == 1102L))
  // a way of one node beside a closed ring
  relation(OneNodeWay, square(2000, 20000, 0, 10000, 4) :+
    way(2199, Seq(node(2198, 40000, 40000))).copy(role = "") :+ centre(2900, 25000, 5000))
  // a closed single-way ring beside a ring stitched from 3 ways
  relation(ClosedBeside, square(3000, 40000, 0, 10000, 1) ++
    square(3200, 60000, 0, 10000, 3) :+ centre(3900, 45000, 5000))
  // a stitched shell with a stitched hole and a one-way hole
  relation(Holes, square(4000, 0, 20000, 30000, 2) ++
    square(4200, 5000, 25000, 5000, 2).map(_.copy(role = "inner")) ++
    square(4400, 20000, 25000, 5000, 1).map(_.copy(role = "inner")) :+
    centre(4900, 2000, 22000))
  // a closed and an open member way each listed both as outer and with
  // the empty role
  relation(OuterAndEmpty, {
    val closed = square(5000, 40000, 20000, 10000, 1)
    val open = square(5200, 40000, 40000, 10000, 3)
    closed ++ open ++ Seq(closed.head, open.head).map(_.copy(role = "")) :+
      centre(5900, 45000, 25000)
  })
  // no admin_centre member
  relation(NoCentre, square(6000, 60000, 20000, 10000, 2))

  private def rows(localMaxSegs: Int) =
    AdminAreas.build(spark, entities.toSeq.toDS(), localMaxSegs = localMaxSegs).collect()
      .map(a => (a.relationId, a.adminLevel, a.name, a.rings.map(_.toList).toList,
        a.centreLat7, a.centreLon7, a.complete))
      .sortBy(_._1).toSeq

  test("the local stitch equals the iterative route on every edge case") {
    val local = rows(AdminAreas.DefaultLocalMaxSegs)
    assert(local == rows(0))
    val byId = local.map(r => r._1 -> r).toMap
    def rings(id: Long) = byId(id)._4
    def complete(id: Long) = byId(id)._7
    assert(byId.keySet == Set(MissingWay, OneNodeWay, ClosedBeside, Holes, OuterAndEmpty, NoCentre))
    assert(!complete(MissingWay) && rings(MissingWay).isEmpty)
    assert(!complete(OneNodeWay) && rings(OneNodeWay).length == 1)
    assert(complete(ClosedBeside) && rings(ClosedBeside).length == 2)
    assert(complete(Holes) && rings(Holes).length == 3)
    val winding = rings(Holes).map(r => Geom.shoelace(r.toArray)._1 > 0)
    assert(winding == List(true, false, false), "outer CCW first, then holes CW")
    assert(complete(OuterAndEmpty) && rings(OuterAndEmpty).map(_.length) == List(16, 16))
    assert(complete(NoCentre) && byId(NoCentre)._5.isEmpty && byId(NoCentre)._6.isEmpty)
    assert(byId(Holes)._5.contains(22000L) && byId(Holes)._6.contains(2000L))
  }
}
