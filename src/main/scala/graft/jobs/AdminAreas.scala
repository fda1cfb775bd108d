package graft.jobs

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.geo.{Cover, Geom, Stitch}
import graft.model.{OsmEntity, OsmKind}
import graft.streaming.Replication
import graft.util.{Joins, Obs}

/** Admin-boundary assembly (SURVEY.md J1-J4): select admin relations,
  * stitch member ways into closed rings, normalize winding, and build
  * compacted cell covers.
  *
  * Stitching is LOCAL, one task per relation: the located nodes of its
  * member ways (way members ⋈ way nodes ⋈ nodes), its admin_centre node
  * and one header row are grouped by `relation_id` in ONE shuffle. That
  * task builds the per-way chains, stitches each role with
  * [[graft.geo.Stitch]], makes the rings canonical and flags failures,
  * and emits the finished [[AdminArea]]: no driver rounds. A role too
  * big for one stitch (more than `localMaxSegs` open chains or
  * [[LocalMaxCoordLongs]] coordinates) hands its chains to an ITERATIVE
  * DATAFRAME SELF-JOIN instead (north star: "rather than a port of the
  * Rust relation assembler"): deterministic random-mate matching on
  * shared endpoint node ids converges in O(log w) rounds without any
  * task stitching the whole ring. Member ORDER is never consulted — the
  * reference treats member order as insignificant
  * (export-test/main.rs:113-127).
  */
object AdminAreas {

  /** One open/closed chain of stitched ways. coords = flat [x0,y0,...]. */
  final case class Chain(
      relationId: Long, role: String, chainId: Long,
      aNode: Long, bNode: Long, coords: Seq[Long], nWays: Int, closed: Boolean)

  final case class AdminArea(
      relationId: Long, adminLevel: Int, name: String,
      rings: Seq[Seq[Long]], // outer rings (CCW) then holes (CW), even-odd
      centreLat7: Option[Long], centreLon7: Option[Long],
      complete: Boolean)

  /** Detailed cover row: clipped edges + SW-corner parity enable the
    * localized refine (GeomCell) — no polygon geometry in the hot path. */
  final case class CoverRowEx(relationId: Long, cell: Long, full: Boolean,
      cornerInside: Boolean, fallback: Boolean, edges: Seq[Long])

  /** Latest visible version of each element id of one kind (shared
    * with [[Extract]] — one definition of the snapshot-resolution
    * rule). */
  private[graft] def latestVisible(osm: Dataset[OsmEntity], kind: Byte): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("version").desc)
    osm.filter(col("kind") === kind)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("visible"))
      .drop("_rn")
  }

  /** First tag value with key k. */
  private def tagVal(k: String) =
    try_element_at(filter(col("tags"), t => t.getField("k") === k), lit(1)).getField("v")

  /** J1: relations with boundary=administrative AND an admin_level
    * (r3548694 in the fixture has the former but not the latter and must
    * be excluded — FIXTURES.md §1). */
  def adminRelations(osm: Dataset[OsmEntity]): DataFrame =
    latestVisible(osm, OsmKind.Relation)
      .withColumn("admin_level_s", tagVal("admin_level"))
      .withColumn("_b", tagVal("boundary"))
      .filter(col("_b") === "administrative" && col("admin_level_s").isNotNull)
      .select(col("id").as("relation_id"),
        col("admin_level_s").cast("int").as("admin_level"),
        coalesce(tagVal("name"), lit("")).as("name"),
        col("members"))

  /** Max open chains per (relation, role) stitched inside the
    * relation's group task; bigger roles take the iterative distributed
    * join. At planet scale the largest admin relations have ~10^4 member
    * ways, so in practice ~all roles stitch locally and the iterative
    * path is the safety net for pathological inputs. */
  val DefaultLocalMaxSegs: Int = 16384
  private val LocalMaxCoordLongs = 8000000L // ~64 MB payload per role

  private val HeaderRole = "relation"
  private val CentreRole = "admin_centre"

  /** One row of a relation's group. Its `role` says which kind: "outer"
    * or "inner" for a node of a member way (`wayId`, the node's position
    * `seq`, `nodeId` and its coordinates, None when the node is missing),
    * [[CentreRole]] for an admin_centre member (`nodeId`, coordinates),
    * [[HeaderRole]] for the relation itself (`adminLevel`, `name`). */
  private[jobs] final case class GroupRow(relationId: Long, role: String,
      adminLevel: Int, name: String, wayId: Long, seq: Int, nodeId: Long,
      lat7: Option[Long], lon7: Option[Long])

  /** A relation after its group task: the finished area, or, when a role
    * was too big to stitch locally, the area without rings and with
    * `complete` meaning "no local failure", plus every closed chain and
    * the big roles' open chains for the iterative path. */
  private[jobs] final case class Assembled(area: AdminArea, pending: Seq[Chain])

  // Dataset.localCheckpoint keeps the ORIGIN plan's statistics, so
  // sizeInBytes estimates compound ~cubed per round and by round ~12
  // Catalyst spends minutes multiplying 10^5-digit BigInts. Rebuilding
  // from a checkpointed RDD resets stats to defaults each round.
  /** `ds` materialized and counted in one job. */
  private def checkpointed[T: Encoder](spark: SparkSession,
      ds: Dataset[T]): (Dataset[T], Long) = {
    val r = ds.rdd
    r.localCheckpoint()
    val n = r.count()
    (spark.createDataset(r), n)
  }

  /** The group task of one relation (see [[build]]). */
  private def assembleRelation(rel: Long, rows: Iterator[GroupRow],
      localMaxSegs: Int): Assembled = {
    var header: GroupRow = null
    var centre: GroupRow = null // the smallest admin_centre ref, located or not
    val wayNodes = mutable.HashMap.empty[(String, Long), mutable.ArrayBuffer[GroupRow]]
    rows.foreach { r =>
      if (r.role == HeaderRole) header = r
      else if (r.role == CentreRole) {
        if (centre == null || r.nodeId < centre.nodeId) centre = r
      } else if (r.lat7.isDefined)
        wayNodes.getOrElseUpdate((r.role, r.wayId), mutable.ArrayBuffer.empty) += r
    }
    // one chain per (role, member way); a way listed twice under one
    // role counts once
    val chains = wayNodes.toSeq.sortBy(_._1).map { case ((role, wayId), rs) =>
      val pts = rs.sortBy(_.seq).distinctBy(_.seq)
      val coords = pts.iterator.flatMap(p => Iterator(p.lon7.get, p.lat7.get)).toArray
      Chain(rel, role, wayId, pts.head.nodeId, pts.last.nodeId,
        ArraySeq.unsafeWrapArray(coords), nWays = 1,
        closed = pts.length >= 2 && pts.head.nodeId == pts.last.nodeId)
    }
    val closed = mutable.ArrayBuffer.empty[Chain]
    val pending = mutable.ArrayBuffer.empty[Chain]
    var failed = false
    for ((role, cs) <- chains.groupBy(_.role).toSeq.sortBy(_._1)) {
      val (ringWays, open) = cs.partition(_.closed)
      closed ++= ringWays
      if (open.length > localMaxSegs ||
          open.map(_.coords.length.toLong).sum > LocalMaxCoordLongs) pending ++= open
      else {
        // <2 vertices can never merge: mark failed (Stitch would drop
        // them silently)
        val (segs, degenerate) = open.partition(_.coords.length >= 4)
        val res = Stitch.stitch(segs.map(waySeg))
        closed ++= res.rings.iterator.zipWithIndex.map { case (flat, idx) =>
          Chain(rel, role, idx.toLong, 0L, 0L, flat.toSeq, nWays = 0, closed = true)
        }
        failed ||= degenerate.nonEmpty || res.failedWayIds.nonEmpty
      }
    }
    val area = AdminArea(rel, header.adminLevel, header.name, Nil,
      Option(centre).flatMap(_.lat7), Option(centre).flatMap(_.lon7), complete = !failed)
    if (pending.nonEmpty) Assembled(area, (closed ++ pending).toSeq)
    else {
      val rings = canonicalRings(closed.toSeq)
      Assembled(area.copy(rings = rings, complete = !failed && rings.nonEmpty), Nil)
    }
  }

  /** Stitch matches on endpoint ids only; interior ids get non-colliding
    * sentinels. */
  private def waySeg(c: Chain): Stitch.WaySeg = {
    val nv = c.coords.length / 2
    val ids = new Array[Long](nv)
    ids(0) = c.aNode; ids(nv - 1) = c.bNode
    var i = 1
    while (i < nv - 1) { ids(i) = Long.MinValue + i; i += 1 }
    val xs = new Array[Long](nv)
    val ys = new Array[Long](nv)
    var k = 0
    while (k < nv) { xs(k) = c.coords(2 * k); ys(k) = c.coords(2 * k + 1); k += 1 }
    Stitch.WaySeg(c.chainId, ids, xs, ys)
  }

  /** A relation's closed chains as canonical rings: outers CCW, then
    * holes CW, each in order of its first vertex (ties by chain id). */
  private def canonicalRings(closed: Seq[Chain]): Seq[Seq[Long]] = {
    val cs = closed.sortBy(_.chainId)
    def rings(role: String, ccw: Boolean) = cs.filter(_.role == role)
      .map(c => Geom.canonicalRing(dropClosingVertex(c.coords), wantCCW = ccw).toSeq)
      .sortBy(r => (r.head, r(1)))
    rings("outer", ccw = true) ++ rings("inner", ccw = false)
  }

  /** The iterative self-join loop (scale path for oversized relations).
    *
    * Pairing is RANDOM-MATE (deterministic: coin = parity of
    * xxhash64(chainId, round)): head chains propose to their smallest
    * adjacent tail, each tail accepts its smallest proposer. Expected
    * ≥ constant-fraction merges per round for ANY id ordering — plain
    * mutual-min degrades to one merge/round on rings whose member way
    * ids ascend around the loop (common: boundaries drawn sequentially
    * by one mapper), which made a 32-way ring take 31 rounds. */
  def assembleIterative(spark: SparkSession, initial: Dataset[Chain],
      maxRounds: Int = 64): (Dataset[Chain], Dataset[Chain]) = {
    import spark.implicits._
    def truncate(ds: Dataset[Chain]): Dataset[Chain] = checkpointed(spark, ds)._1
    var chains = truncate(initial)
    var round = 0
    var openCount = chains.filter(!_.closed).count()
    while (openCount > 0 && round < maxRounds) {
      val open = chains.filter(!_.closed)
      val eps = open.select(col("relationId"), col("role"), col("chainId"),
        explode(array(col("aNode"), col("bNode"))).as("node")).distinct()
        .withColumn("coin", pmod(xxhash64(col("chainId"), lit(round)), lit(2)))
      val heads = eps.filter(col("coin") === 1)
      val tails = eps.filter(col("coin") === 0)
      val proposals = heads.as("l").join(tails.as("r"),
          col("l.relationId") === col("r.relationId") &&
            col("l.role") === col("r.role") &&
            col("l.node") === col("r.node") &&
            col("l.chainId") =!= col("r.chainId"))
        .groupBy(col("l.relationId").as("relationId"), col("l.role").as("role"),
          col("l.chainId").as("head"))
        .agg(min(col("r.chainId")).as("tail"))
      val mutual = proposals
        .groupBy(col("relationId"), col("role"), col("tail"))
        .agg(min(col("head")).as("head"))
        .select(col("relationId"), col("role"),
          col("head").as("leader"), col("tail").as("follower"))
      // merge unconditionally (an empty pairing leaves every group a
      // singleton); progress is observed from the open count afterwards
      val leaderOf = mutual.select(col("relationId"), col("role"),
          col("leader").as("chainId"), col("leader"))
        .union(mutual.select(col("relationId"), col("role"),
          col("follower").as("chainId"), col("leader")))
      val tagged = chains.toDF().join(leaderOf, Seq("relationId", "role", "chainId"), "left_outer")
        .withColumn("grp", coalesce(col("leader"), col("chainId")))
      chains = tagged
        .select(col("relationId"), col("role"), col("chainId"), col("aNode"),
          col("bNode"), col("coords"), col("nWays"), col("closed"), col("grp"))
        .as[(Long, String, Long, Long, Long, Seq[Long], Int, Boolean, Long)]
        .groupByKey(t => (t._1, t._2, t._9))
        .mapGroups { (_, it) =>
          val cs = it.map(t => Chain(t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8))
            .toArray.sortBy(_.chainId)
          if (cs.length == 1) cs.head
          else mergeTwo(cs(0), cs(1))
        }
      chains = truncate(chains)
      val newOpen = chains.filter(!_.closed).count()
      if (newOpen == openCount) {
        // no merge this round: either an unlucky coin split (retry —
        // coins change with `round`) or no adjacency at all (then the
        // leftovers are unclosable failures; checked once, not per round)
        val anyAdjacency = !eps.as("l").join(eps.as("r"),
          col("l.relationId") === col("r.relationId") &&
            col("l.role") === col("r.role") &&
            col("l.node") === col("r.node") &&
            col("l.chainId") =!= col("r.chainId")).isEmpty
        if (!anyAdjacency) openCount = 0 else openCount = newOpen
      } else openCount = newOpen
      round += 1
    }
    (chains.filter(_.closed), chains.filter(c => !c.closed))
  }

  /** Merge two chains sharing an endpoint; orientation-normalizing. */
  private def mergeTwo(c1: Chain, c2: Chain): Chain = {
    // orient c1 to END at the shared node, c2 to START at it
    val shared =
      if (c1.bNode == c2.aNode || c1.bNode == c2.bNode) c1.bNode
      else c1.aNode
    val (h, hStart) =
      if (c1.bNode == shared) (c1.coords, c1.aNode)
      else (reversePairs(c1.coords), c1.bNode)
    val (t, tEnd) =
      if (c2.aNode == shared) (c2.coords, c2.bNode)
      else (reversePairs(c2.coords), c2.aNode)
    val coords = h ++ t.drop(2) // drop duplicated shared vertex
    Chain(c1.relationId, c1.role, math.min(c1.chainId, c2.chainId),
      hStart, tEnd, coords, c1.nWays + c2.nWays, closed = hStart == tEnd)
  }

  private def reversePairs(c: Seq[Long]): Seq[Long] =
    c.grouped(2).toSeq.reverse.flatten

  /** Full pipeline: typed entities → AdminArea with canonical rings.
    * The group stage is materialized here, in one job, because whether
    * the iterative path runs depends on it; the result reads those
    * blocks (`localMaxSegs` = 0 sends every open chain iterative). */
  def build(spark: SparkSession, osm: Dataset[OsmEntity],
      localMaxSegs: Int = DefaultLocalMaxSegs,
      onlyRelations: Option[DataFrame] = None): Dataset[AdminArea] = {
    import spark.implicits._
    // onlyRelations (a relation_id frame) restricts the whole build to
    // a subset — the incremental-maintenance path; every row below keys
    // off `admin`
    val admin = onlyRelations.foldLeft(adminRelations(osm))((a, only) =>
      a.join(only.select(col("relation_id")), Seq("relation_id"), "left_semi"))
    // one exploded frame feeds the header and both member branches, so
    // the relation window's shuffle is shared by all three
    val members = admin.select(col("relation_id"), col("admin_level"), col("name"),
      posexplode_outer(col("members")).as(Seq("pos", "m")))
    val wayRows = members
      .filter(col("m.mtype") === OsmKind.Way && col("m.role").isin("outer", "inner", ""))
      .select(col("relation_id"),
        when(col("m.role") === "inner", "inner").otherwise("outer").as("role"),
        col("m.ref").as("way_id"))
      .join(latestVisible(osm, OsmKind.Way).select(col("id").as("way_id"),
        posexplode(col("refs")).as(Seq("seq", "node_id"))), "way_id")
    val centreRows = members
      .filter(col("m.mtype") === OsmKind.Node && col("m.role") === CentreRole)
      .select(col("relation_id"), col("m.role").as("role"), lit(-1L).as("way_id"),
        lit(0).as("seq"), col("m.ref").as("node_id"))
    val located = wayRows.unionByName(centreRows)
      .join(latestVisible(osm, OsmKind.Node).select(col("id").as("node_id"),
        col("lat7"), col("lon7")), Seq("node_id"), "left_outer")
      .select(col("relation_id"), col("role"), lit(0).as("admin_level"),
        lit(null).cast("string").as("name"), col("way_id"), col("seq"),
        col("node_id"), col("lat7"), col("lon7"))
    val headers = members.filter(col("pos") === 0 || col("pos").isNull)
      .select(col("relation_id"), lit(HeaderRole).as("role"),
        col("admin_level"), col("name"), lit(-1L).as("way_id"), lit(0).as("seq"),
        lit(-1L).as("node_id"), lit(null).cast("long").as("lat7"),
        lit(null).cast("long").as("lon7"))
    val rows = located.union(headers).toDF(
      "relationId", "role", "adminLevel", "name", "wayId", "seq", "nodeId", "lat7", "lon7")
    // the group task runs once, in the checkpoint job, and counts the
    // relations it hands to the iterative path
    val nPending = spark.sparkContext.longAccumulator("admin relations with a big role")
    val assembled = rows.as[GroupRow]
      .groupByKey(_.relationId)
      .mapGroups { (rel, it) =>
        val a = assembleRelation(rel, it, localMaxSegs)
        if (a.pending.nonEmpty) nPending.add(1)
        a
      }
      .localCheckpoint()
    if (nPending.value == 0L) assembled.map(_.area)
    else assembled.filter(_.pending.isEmpty).map(_.area)
      .union(finishIterative(spark, assembled.filter(_.pending.nonEmpty)))
  }

  /** The relations whose group handed chains over: their open chains
    * run through [[assembleIterative]], then all their closed chains
    * become rings exactly as in the group task. */
  private def finishIterative(spark: SparkSession,
      pending: Dataset[Assembled]): Dataset[AdminArea] = {
    import spark.implicits._
    val chains = pending.flatMap(_.pending)
    val (bigClosed, bigFailed) = assembleIterative(spark, chains.filter(!_.closed))
    val rings = chains.filter(_.closed).union(bigClosed)
      .groupByKey(_.relationId)
      .mapGroups((rel, cs) => (rel, canonicalRings(cs.toSeq)))
      .toDF("relationId", "_rings")
    val failedRels = bigFailed.select(col("relationId")).distinct()
      .withColumn("_failed", lit(true))
    pending.map(_.area).toDF()
      .join(rings, Seq("relationId"), "left_outer")
      .join(failedRels, Seq("relationId"), "left_outer")
      .select(col("relationId"), col("adminLevel"), col("name"),
        coalesce(col("_rings"), array()).as("rings"),
        col("centreLat7"), col("centreLon7"),
        (col("complete") && col("_failed").isNull && col("_rings").isNotNull).as("complete"))
      .as[AdminArea]
  }

  private def dropClosingVertex(c: Seq[Long]): Array[Long] = {
    val arr = c.toArray
    val n = arr.length
    if (n >= 4 && arr(0) == arr(n - 2) && arr(1) == arr(n - 1))
      java.util.Arrays.copyOf(arr, n - 2)
    else arr
  }

  /** J4: compacted cell cover per complete admin polygon. Two-stage
    * fan-out: each polygon first emits seed sub-quadrants, which are
    * shuffled so a mega-polygon's cover is built by MANY tasks instead of
    * one straggler (Amdahl guard for country-level relations). Boundary
    * cells carry clipped edges + corner parity so the join-side refine
    * never touches full polygon rings (except the rare `fallback`
    * cells). */
  def coverTableDetailed(spark: SparkSession, areas: Dataset[AdminArea],
      maxLevel: Int): Dataset[CoverRowEx] = {
    import spark.implicits._
    val seeded = areas.filter(_.complete).flatMap { a =>
      val rings = a.rings.map(_.toArray).toArray
      Cover.seedCells(rings, maxLevel).map(seed => (a.relationId, seed, a.rings))
    }
    seeded
      .repartition(col("_2")) // spread seeds of one polygon across tasks
      .flatMap { case (rel, seed, rings) =>
        Cover.coverDetailedFrom(rings.map(_.toArray).toArray, seed, maxLevel)
          .map(cc => CoverRowEx(rel, cc.cell, cc.full, cc.cornerInside,
            cc.fallback, cc.edges.toSeq))
      }
  }

  // ---- incremental maintenance (replication-diff path) --------------

  private val DiffBroadcastMaxRows = 4000000L

  /** Relations whose assembled geometry MAY change under `diffs`:
    * directly-changed relations, relations with a member way that was
    * changed or that references a changed node, and relations with a
    * changed member node (admin_centre moves). Membership is read from
    * EVERY version of the ways and relations in `prevSnapshot ∪ diffs`,
    * with no latest-version windows. That is a superset of the rule over
    * the latest visible versions of both snapshots (a node leaving a way
    * must still dirty the way's old relations): every row of the new
    * snapshot comes from those two inputs, and rebuilding an extra
    * relation gives the same area. So `newSnapshot` is not read. The
    * diff side of every probe is broadcast under the usual bound.
    * Output: one `relation_id` column, distinct, materialized, and
    * broadcast-hinted under the same bound for the merges that use it. */
  def touchedRelations(spark: SparkSession, prevSnapshot: Dataset[OsmEntity],
      newSnapshot: Dataset[OsmEntity], diffs: Dataset[OsmEntity],
      diffBroadcastMaxRows: Long = DiffBroadcastMaxRows): DataFrame = {
    import spark.implicits._
    val (d, nDiff) = checkpointed(spark, diffs)
    touchedSet(spark, prevSnapshot, d, nDiff, diffBroadcastMaxRows)
  }

  /** [[touchedRelations]] over materialized diffs `d` of `nDiff` rows. */
  private def touchedSet(spark: SparkSession, prevSnapshot: Dataset[OsmEntity],
      d: Dataset[OsmEntity], nDiff: Long, maxRows: Long): DataFrame = {
    import spark.implicits._
    def bounded(df: DataFrame, est: Long) = Joins.boundedBroadcast(df, est, maxRows)
    def ofKind(ds: Dataset[OsmEntity], kind: Byte) = ds.filter(col("kind") === kind)
    val every = prevSnapshot.union(d)
    val dNodes = bounded(ofKind(d, OsmKind.Node).select(col("id").as("node_id")), nDiff)
    val waysViaNodes = ofKind(every, OsmKind.Way)
      .select(col("id").as("way_id"), explode(col("refs")).as("node_id"))
      .join(dNodes, Seq("node_id"), "left_semi")
      .select("way_id")
    val touchedWays = bounded(
      ofKind(d, OsmKind.Way).select(col("id").as("way_id")).union(waysViaNodes), nDiff * 4)
    val members = ofKind(every, OsmKind.Relation)
      .select(col("id").as("relation_id"), explode(col("members")).as("m"))
    val viaWays = members.filter(col("m.mtype") === OsmKind.Way)
      .select(col("relation_id"), col("m.ref").as("way_id"))
      .join(touchedWays, Seq("way_id"), "left_semi")
      .select("relation_id")
    val viaNodes = members.filter(col("m.mtype") === OsmKind.Node)
      .select(col("relation_id"), col("m.ref").as("node_id"))
      .join(dNodes, Seq("node_id"), "left_semi")
      .select("relation_id")
    val (ids, n) = checkpointed(spark,
      ofKind(d, OsmKind.Relation).select(col("id").as("relation_id"))
        .union(viaWays).union(viaNodes).distinct().as[Long])
    bounded(ids.toDF("relation_id"), n)
  }

  /** Incremental admin-area maintenance: apply a replication-diff batch
    * and rebuild ONLY the touched relations, carrying every other area
    * over unchanged — the planet-scale answer to minutely diffs (a full
    * rebuild re-stitches ~10^6 relations for a batch touching a
    * handful). Equivalence to the full rebuild on the new snapshot is
    * spec-pinned (AdminIncrementalSpec, AdminAreasSpec). The result
    * carries the new snapshot (what the next diff batch applies
    * against), the merged area set, and the touched/rebuilt frames
    * [[incrementalCover]] consumes. */
  final case class IncrementalResult(
      snapshot: Dataset[OsmEntity], areas: Dataset[AdminArea],
      touched: DataFrame, rebuilt: Dataset[AdminArea])

  /** The diffs are materialized once. The touched set does not read the
    * new snapshot, so it runs beside the diff apply on a one-thread pool
    * this call owns; each phase is an [[graft.util.Obs]] span. */
  def incrementalUpdate(spark: SparkSession, prevSnapshot: Dataset[OsmEntity],
      prevAreas: Dataset[AdminArea], diffs: Dataset[OsmEntity],
      localMaxSegs: Int = DefaultLocalMaxSegs): IncrementalResult = {
    import spark.implicits._
    val (d, nDiff) = checkpointed(spark, diffs)
    val pool = Executors.newSingleThreadExecutor()
    val (next, touched) = try {
      val touchedF = pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = Obs.span(spark, "admin touched")(
          touchedSet(spark, prevSnapshot, d, nDiff, DiffBroadcastMaxRows))._1
      })
      // the merged snapshot is consumed by the restricted rebuild and by
      // whatever the caller does next: materialize it once; at planet
      // scale this is the snapshot stage a real pipeline persists anyway
      val next = Try(Obs.span(spark, "admin apply diffs")(
        Replication.applyDiffs(spark, prevSnapshot, d).localCheckpoint())._1)
      // await the touched set even when the apply failed, so no job of
      // this call outlives it
      val touched = try touchedF.get() catch { case e: ExecutionException => throw e.getCause }
      (next.get, touched)
    } finally pool.shutdown()
    // rebuilt: touched relations still admin+visible in the NEW
    // snapshot (deleted / de-tagged relations drop out of the semi-join
    // naturally), already materialized by build; kept: everything
    // untouched rides over as-is
    val rebuilt = Obs.span(spark, "admin rebuild")(
      build(spark, next, localMaxSegs, Some(touched)))._1
    val kept = prevAreas
      .join(touched, prevAreas("relationId") === touched("relation_id"),
        "left_anti")
      .as[AdminArea]
    IncrementalResult(next, kept.union(rebuilt), touched, rebuilt)
  }

  /** Cover companion to [[incrementalUpdate]]: merge a previous cover
    * with the rebuilt areas' fresh cover rows — old rows of touched
    * relations drop (covers of deleted relations with them), untouched
    * rows carry over byte-identical, only the rebuilt relations pay
    * the cover computation, materialized here in its own span.
    * `rebuiltAreas` must be exactly the areas built for the touched set;
    * `touched` the id frame that selected them. */
  def incrementalCover(spark: SparkSession, prevCover: Dataset[CoverRowEx],
      rebuiltAreas: Dataset[AdminArea], touched: DataFrame,
      maxLevel: Int): Dataset[CoverRowEx] = {
    import spark.implicits._
    val fresh = Obs.span(spark, "admin cover merge")(
      coverTableDetailed(spark, rebuiltAreas, maxLevel).localCheckpoint())._1
    val kept = prevCover
      .join(touched, prevCover("relationId") === touched("relation_id"),
        "left_anti")
      .as[CoverRowEx]
    kept.union(fresh)
  }
}
