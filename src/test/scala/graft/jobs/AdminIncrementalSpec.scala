package graft.jobs

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.{OsmEntity, OsmKind, OsmMember, OsmTag}
import graft.streaming.Replication
import graft.util.Obs

/** Incremental admin maintenance on a synthetic world, no fixture: a
  * 6 × 6 grid of villages (4 member ways of 4 segments each, shuffled
  * and partly reversed, one admin_centre), a route relation over one
  * village way, and a history snapshot. One diff batch covers every
  * diff class the update handles; the incremental areas and cover must
  * equal the full rebuild on the new snapshot row for row. */
class AdminIncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import AdminIncrementalSpec._

  private lazy val prev = spark.createDataset(world).localCheckpoint()
  private lazy val prevAreas = AdminAreas.build(spark, prev).localCheckpoint()
  private lazy val prevCover =
    AdminAreas.coverTableDetailed(spark, prevAreas, Level).localCheckpoint()

  private def areaRows(ds: Dataset[AdminAreas.AdminArea]) =
    ds.collect().toSeq.map(a => (a.relationId, a.adminLevel, a.name,
      a.rings.map(_.toList).toList, a.centreLat7, a.centreLon7, a.complete))
      .sortBy(_.toString)
  private def coverRows(ds: Dataset[AdminAreas.CoverRowEx]) =
    ds.collect().toSeq.map(c => (c.relationId, c.cell, c.full, c.cornerInside,
      c.fallback, c.edges.toList)).sortBy(_.toString)

  test("incremental areas and cover equal the full rebuild on the new snapshot") {
    val before = areaRows(prevAreas)
    assert(before.length == Villages)
    assert(before.filterNot(_._7).map(_._1) == Seq(relId(HistoryVillage)),
      "only the village whose way was deleted in the history is incomplete")
    val r = AdminAreas.incrementalUpdate(spark, prev, prevAreas, diffs.toDS())
    val full = AdminAreas.build(spark, r.snapshot)
    val incr = areaRows(r.areas)
    assert(incr == areaRows(full))
    assert(coverRows(AdminAreas.incrementalCover(spark, prevCover, r.rebuilt,
      r.touched, Level)) == coverRows(AdminAreas.coverTableDetailed(spark, full, Level)))
    // each diff class shows in the merged areas
    val byId = incr.map(a => a._1 -> a).toMap
    val old = before.map(a => a._1 -> a).toMap
    assert(!byId.contains(relId(Deleted)))
    assert(byId(relId(Renamed))._3 == "village 7 renamed")
    for (v <- Seq(Moved, Repointed)) assert(byId(relId(v))._4 != old(relId(v))._4)
    assert(byId(relId(CentreMoved))._5 != old(relId(CentreMoved))._5)
    assert(byId(relId(CentreMoved))._4 == old(relId(CentreMoved))._4)
  }

  test("the touched set contains the latest-visible rule's set and not every relation") {
    val next = Replication.applyDiffs(spark, prev, diffs.toDS()).collect().toSeq
    val touched = AdminAreas.touchedRelations(spark, prev, spark.createDataset(next),
      diffs.toDS()).as[Long].collect().toSet
    val expected = latestVisibleRule(world, next, diffs)
    assert(expected.contains(relId(Moved)) && expected.contains(relId(Repointed)))
    assert(expected.subsetOf(touched), s"missing ${expected -- touched}")
    val relations = world.filter(_.kind == OsmKind.Relation).map(_.id).toSet
    assert(touched.size < relations.size, s"touched all: $touched")
  }

  test("incrementalUpdate + incrementalCover run at most 25 jobs") {
    val (_, m) = Obs.span(spark, "admin update") {
      val r = AdminAreas.incrementalUpdate(spark, prev, prevAreas, diffs.toDS())
      (r.areas.localCheckpoint(),
        AdminAreas.incrementalCover(spark, prevCover, r.rebuilt, r.touched, Level)
          .localCheckpoint())
    }
    info(m.ledger.map(j => s"${j.id} ${j.description} ${j.wallMs} ms ${j.tasks} tasks")
      .mkString(s"${m.jobs} jobs\n", "\n", ""))
    assert(m.jobs <= 25, s"${m.jobs} jobs")
  }
}

object AdminIncrementalSpec {
  val Level = 12
  val Side = 6
  val Villages: Int = Side * Side
  val WaysPerVillage = 4
  val SegsPerWay = 4
  private val RingVerts = WaysPerVillage * SegsPerWay

  // the village of each diff class
  val Moved = 0
  val Repointed = 3
  val Deleted = 5
  val Renamed = 7
  val CentreMoved = 9
  /** Its way 2 is visible at v1 and deleted at v2 in the history. */
  val HistoryVillage = 11

  def relId(v: Int): Long = 100000L + v
  def wayId(v: Int, w: Int): Long = v * 100L + w + 1
  def nodeId(v: Int, i: Int): Long = v * 1000L + i + 1
  def centreId(v: Int): Long = v * 1000L + 999
  val RouteId = 900000L

  private def node(id: Long, lat7: Long, lon7: Long, version: Int = 1) =
    OsmEntity(OsmKind.Node, id, version, visible = true, Some(lat7), Some(lon7),
      1000L * version, 1L, 1, "u", Nil, Nil, Nil)
  private def way(id: Long, refs: Seq[Long], version: Int = 1, visible: Boolean = true) =
    OsmEntity(OsmKind.Way, id, version, visible, None, None,
      1000L * version, 1L, 1, "u", Nil, refs, Nil)
  private def relation(v: Int, members: Seq[OsmMember], name: String, version: Int = 1) =
    OsmEntity(OsmKind.Relation, relId(v), version, visible = true, None, None,
      1000L * version, 1L, 1, "u",
      Seq(OsmTag("type", "boundary"), OsmTag("boundary", "administrative"),
        OsmTag("admin_level", "8"), OsmTag("name", name)),
      Nil, members)

  private def centre(v: Int): (Long, Long) =
    ((v / Side) * 10000000L, (v % Side) * 10000000L)
  private def vertex(v: Int, i: Int): (Long, Long) = {
    val (cy, cx) = centre(v)
    val ang = 2 * math.Pi * i / RingVerts
    val rad = 3000000L + (i % 3) * 200000L
    (cy + (rad * math.sin(ang)).toLong, cx + (rad * math.cos(ang)).toLong)
  }
  private def wayRefs(v: Int, w: Int): Seq[Long] = {
    val refs = (w * SegsPerWay to (w + 1) * SegsPerWay).map(i => nodeId(v, i % RingVerts))
    if ((v + w) % 2 == 1) refs.reverse else refs
  }

  /** The previous snapshot, with history: every village way 0 has an
    * older, shorter version, and the history village's way 2 is deleted
    * at v2. */
  lazy val world: Seq[OsmEntity] = {
    val rnd = new scala.util.Random(7)
    (0 until Villages).flatMap { v =>
      val nodes = (0 until RingVerts).map { i =>
        val (lat, lon) = vertex(v, i); node(nodeId(v, i), lat, lon)
      } :+ { val (lat, lon) = centre(v); node(centreId(v), lat, lon) }
      val ways = (0 until WaysPerVillage).flatMap { w =>
        if (w == 0) Seq(way(wayId(v, w), wayRefs(v, w).take(3)),
          way(wayId(v, w), wayRefs(v, w), version = 2))
        else if (v == HistoryVillage && w == 2) Seq(way(wayId(v, w), wayRefs(v, w)),
          way(wayId(v, w), wayRefs(v, w), version = 2, visible = false))
        else Seq(way(wayId(v, w), wayRefs(v, w)))
      }
      // way 1 is listed with the empty role, which counts as outer
      val members = rnd.shuffle((0 until WaysPerVillage).map(w =>
        OsmMember(OsmKind.Way, wayId(v, w), if (w == 1) "" else "outer"))) :+
        OsmMember(OsmKind.Node, centreId(v), "admin_centre")
      nodes ++ rnd.shuffle(ways) :+ relation(v, members, s"village $v")
    } :+ OsmEntity(OsmKind.Relation, RouteId, 1, visible = true, None, None,
      1000L, 1L, 1, "u", Seq(OsmTag("type", "route")), Nil,
      Seq(OsmMember(OsmKind.Way, wayId(20, 1), "")))
  }

  private def latest(es: Seq[OsmEntity], id: Long, kind: Byte): OsmEntity =
    es.filter(e => e.kind == kind && e.id == id).maxBy(_.version)

  /** One batch with every diff class: a moved boundary node, a way
    * re-pointed to a new node, a deleted and a renamed relation, a moved
    * admin_centre, and a moved node that only the deleted history way
    * version references. */
  lazy val diffs: Seq[OsmEntity] = {
    def moved(id: Long) = {
      val n = latest(world, id, OsmKind.Node)
      n.copy(version = 2, tsMillis = 2000L, lat7 = n.lat7.map(_ + 1000L))
    }
    val repointedWay = latest(world, wayId(Repointed, 1), OsmKind.Way)
    val (lat, lon) = vertex(Repointed, SegsPerWay + 2)
    val newNode = node(nodeId(Repointed, 500), lat + 400000L, lon + 400000L)
    val deleted = latest(world, relId(Deleted), OsmKind.Relation)
    val renamed = latest(world, relId(Renamed), OsmKind.Relation)
    Seq(
      moved(nodeId(Moved, 0)),
      newNode,
      repointedWay.copy(version = 2, tsMillis = 2000L,
        refs = repointedWay.refs.updated(2, newNode.id)),
      deleted.copy(version = 2, visible = false, tsMillis = 2000L, tags = Nil,
        members = Nil),
      renamed.copy(version = 2, tsMillis = 2000L,
        tags = renamed.tags.map(t => if (t.k == "name") t.copy(v = "village 7 renamed") else t)),
      moved(centreId(CentreMoved)),
      moved(nodeId(HistoryVillage, 2 * SegsPerWay + 2)))
  }

  /** The touched set by the latest-visible rule, in plain Scala: changed
    * relations, relations with a changed member way or a member way
    * (latest visible in either snapshot) on a changed node, and
    * relations with a changed member node. */
  def latestVisibleRule(prev: Seq[OsmEntity], next: Seq[OsmEntity],
      diffs: Seq[OsmEntity]): Set[Long] = {
    def lv(es: Seq[OsmEntity], kind: Byte) = es.filter(_.kind == kind)
      .groupBy(_.id).values.map(_.maxBy(_.version)).filter(_.visible).toSeq
    def ids(kind: Byte) = diffs.filter(_.kind == kind).map(_.id).toSet
    val (dNodes, dWays, dRels) = (ids(OsmKind.Node), ids(OsmKind.Way), ids(OsmKind.Relation))
    val ways = dWays ++ (lv(prev, OsmKind.Way) ++ lv(next, OsmKind.Way))
      .filter(_.refs.exists(dNodes)).map(_.id)
    dRels ++ (lv(prev, OsmKind.Relation) ++ lv(next, OsmKind.Relation))
      .filter(_.members.exists(m =>
        (m.mtype == OsmKind.Way && ways(m.ref)) || (m.mtype == OsmKind.Node && dNodes(m.ref))))
      .map(_.id)
  }
}
