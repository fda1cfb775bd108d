package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.geo.{Cover, Geom, Stitch}
import graft.model.{OsmEntity, OsmKind}

/** Admin-boundary assembly (SURVEY.md J1-J4): select admin relations,
  * stitch member ways into closed rings, normalize winding, and build
  * compacted cell covers.
  *
  * Stitching is HYBRID: each (relation, role) group small enough for
  * one task (in practice ~all of them — see [[DefaultLocalMaxSegs]])
  * is stitched locally by [[graft.geo.Stitch]] inside one
  * `flatMapGroups` — one shuffle, no driver rounds. Oversized groups
  * take an ITERATIVE DATAFRAME SELF-JOIN (north star: "rather than a
  * port of the Rust relation assembler"): deterministic random-mate
  * matching on shared endpoint node ids converges in O(log w) rounds
  * without any task holding a whole relation. Member ORDER is never
  * consulted — the reference treats member order as insignificant
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

  /** Initial chains: one per (relation, role, member way), with node-id
    * endpoints and coordinate payload. */
  def initialChains(spark: SparkSession, osm: Dataset[OsmEntity],
      admin: DataFrame): Dataset[Chain] = {
    import spark.implicits._
    val memberWays = admin
      .select(col("relation_id"), explode(col("members")).as("m"))
      .filter(col("m.mtype") === OsmKind.Way &&
        (col("m.role") === "outer" || col("m.role") === "inner" || col("m.role") === ""))
      .select(col("relation_id"),
        when(col("m.role") === "inner", "inner").otherwise("outer").as("role"),
        col("m.ref").as("way_id"))
      .distinct()
    val wayNodes = latestVisible(osm, OsmKind.Way)
      .select(col("id").as("way_id"), posexplode(col("refs")).as(Seq("seq", "node_id")))
    val nodes = latestVisible(osm, OsmKind.Node)
      .select(col("id").as("node_id"), col("lat7"), col("lon7"))
    memberWays
      .join(wayNodes, "way_id")
      .join(nodes, "node_id")
      .groupBy("relation_id", "role", "way_id")
      .agg(array_sort(collect_list(struct(col("seq"), col("node_id"),
        col("lon7"), col("lat7")))).as("pts"))
      .as[(Long, String, Long, Seq[(Int, Long, Long, Long)])]
      .map { case (rel, role, wayId, pts) =>
        val coords = pts.flatMap(p => Seq(p._3, p._4))
        Chain(rel, role, wayId, pts.head._2, pts.last._2, coords,
          nWays = 1, closed = pts.length >= 2 && pts.head._2 == pts.last._2)
      }
  }

  /** Max open segments per (relation, role) routed through the LOCAL
    * stitcher; bigger groups take the iterative distributed join. At
    * planet scale the largest admin relations have ~10^4 member ways,
    * so in practice ~all groups stitch locally in one task and the
    * iterative path is the safety net for pathological inputs. */
  val DefaultLocalMaxSegs: Int = 16384
  private val LocalMaxCoordLongs = 8000000L // ~64 MB payload per group

  /** Hybrid stitcher (J2). Returns (closed, failed) chains.
    *
    * Small (relation, role) groups — by segment count AND coordinate
    * payload — are stitched locally inside one `flatMapGroups` task by
    * [[graft.geo.Stitch]]: one shuffle total, no driver-side rounds.
    * Oversized groups take the iterative random-mate DataFrame
    * self-join ([[assembleIterative]]), whose O(log w) rounds don't
    * need any single task to hold a whole relation. The split is a
    * deterministic function of group size, so output is
    * partitioning-invariant. */
  def assemble(spark: SparkSession, initial: Dataset[Chain],
      maxRounds: Int = 64,
      localMaxSegs: Int = DefaultLocalMaxSegs): (Dataset[Chain], Dataset[Chain]) = {
    import spark.implicits._
    val all = truncateChains(spark, initial)
    val closedInit = all.filter(_.closed)
    val open = all.filter(c => !c.closed)
    // oversized group keys: one row per pathological (relation, role)
    // after partial aggregation. The split runs as semi/anti JOINS, so
    // nothing key-proportional ever lands on the driver — real OSM
    // data has a handful of such keys (broadcast), adversarial input
    // with millions degrades to a shuffled-hash split, not a driver
    // OOM. Only the COUNT (strategy pick + empty fast path) reaches
    // the driver.
    val bigKeysDf = open.toDF()
      .groupBy(col("relationId"), col("role"))
      .agg(count(lit(1)).as("n"), sum(size(col("coords"))).as("w"))
      .filter(col("n") > localMaxSegs || col("w") > LocalMaxCoordLongs)
      .select(col("relationId"), col("role"))
      .localCheckpoint()
    val nBig = bigKeysDf.count()
    val bigKeysHinted =
      graft.util.Joins.boundedBroadcast(bigKeysDf, nBig, 1000000L)
    val small =
      if (nBig == 0L) open
      else open.toDF()
        .join(bigKeysHinted, Seq("relationId", "role"), "left_anti")
        .as[Chain]
    val localOutRaw = small
      .groupByKey(c => (c.relationId, c.role))
      .flatMapGroups { (key: (Long, String), it: Iterator[Chain]) =>
        val (rel, role) = key
        val chains = it.toArray
        // <2 vertices can never merge: mark failed (the iterative path
        // leaves them open; Stitch would drop them silently)
        val (segs, degenerate) = chains.partition(_.coords.length >= 4)
        val ws = segs.map { c =>
          val nv = c.coords.length / 2
          val ids = new Array[Long](nv)
          // Stitch matches on endpoint ids only; interior ids get
          // non-colliding sentinels
          ids(0) = c.aNode; ids(nv - 1) = c.bNode
          var i = 1
          while (i < nv - 1) { ids(i) = Long.MinValue + i; i += 1 }
          val xs = new Array[Long](nv)
          val ys = new Array[Long](nv)
          var k = 0
          while (k < nv) { xs(k) = c.coords(2 * k); ys(k) = c.coords(2 * k + 1); k += 1 }
          Stitch.WaySeg(c.chainId, ids, xs, ys)
        }
        val res = Stitch.stitch(ws.toIndexedSeq)
        val rings = res.rings.iterator.zipWithIndex.map { case (flat, idx) =>
          Chain(rel, role, idx.toLong, 0L, 0L, flat.toSeq, nWays = 0, closed = true)
        }
        val failed = (res.failedWayIds.iterator ++ degenerate.iterator.map(_.chainId))
          .map(id => Chain(rel, role, id, 0L, 0L, Nil, nWays = 1, closed = false))
        rings ++ failed
      }
    // materialize once: the closed/failed branches (and build()'s joins
    // over them) would otherwise re-run the stitch shuffle per consumer
    val localOut = truncateChains(spark, localOutRaw)
    if (nBig == 0L) {
      (closedInit.union(localOut.filter(_.closed)),
        localOut.filter(c => !c.closed))
    } else {
      val big = open.toDF()
        .join(bigKeysHinted, Seq("relationId", "role"), "left_semi")
        .as[Chain]
      val (bigClosed, bigFailed) = assembleIterative(spark, big, maxRounds)
      (closedInit.union(localOut.filter(_.closed)).union(bigClosed),
        localOut.filter(c => !c.closed).union(bigFailed))
    }
  }

  // Dataset.localCheckpoint keeps the ORIGIN plan's statistics, so
  // sizeInBytes estimates compound ~cubed per round and by round ~12
  // Catalyst spends minutes multiplying 10^5-digit BigInts. Rebuilding
  // from a checkpointed RDD resets stats to defaults each round.
  private def truncateChains(spark: SparkSession, ds: Dataset[Chain]): Dataset[Chain] = {
    import spark.implicits._
    val r = ds.rdd
    r.localCheckpoint()
    r.count()
    spark.createDataset(r)
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
    def truncate(ds: Dataset[Chain]): Dataset[Chain] = truncateChains(spark, ds)
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

  /** Full pipeline: typed entities → AdminArea with canonical rings. */
  def build(spark: SparkSession, osm: Dataset[OsmEntity],
      localMaxSegs: Int = DefaultLocalMaxSegs,
      onlyRelations: Option[DataFrame] = None): Dataset[AdminArea] = {
    import spark.implicits._
    // onlyRelations (a relation_id frame) restricts the whole build to
    // a subset — the incremental-maintenance path; the semi-join keeps
    // every downstream stage (chains, stitch, centres) naturally
    // pruned because they all key off `admin`
    val admin0 = adminRelations(osm)
    val admin = onlyRelations
      .map(r => admin0.join(r.select(col("relation_id")).distinct(),
        Seq("relation_id"), "left_semi"))
      .getOrElse(admin0)
      .cache()
    val (closed, failed) =
      assemble(spark, initialChains(spark, osm, admin), localMaxSegs = localMaxSegs)
    val ringsPerRel = closed
      .groupByKey(c => c.relationId)
      .mapGroups { (rel, it) =>
        val cs = it.toArray.sortBy(_.chainId)
        val outers = cs.filter(_.role == "outer")
          .map(c => dropClosingVertex(c.coords))
          .map(r => Geom.canonicalRing(r, wantCCW = true).toSeq)
        val inners = cs.filter(_.role == "inner")
          .map(c => dropClosingVertex(c.coords))
          .map(r => Geom.canonicalRing(r, wantCCW = false).toSeq)
        // deterministic ring order: canonical first vertex
        val ordered = (outers.sortBy(r => (r.head, r(1))) ++
          inners.sortBy(r => (r.head, r(1)))).toSeq
        (rel, ordered)
      }
      .toDF("relation_id", "rings")
    val failedRels = failed.select(col("relationId").as("relation_id")).distinct()
      .withColumn("_failed", lit(true))
    val centres = admin
      .select(col("relation_id"), explode(col("members")).as("m"))
      .filter(col("m.mtype") === OsmKind.Node && col("m.role") === "admin_centre")
      .groupBy("relation_id").agg(min(col("m.ref")).as("centre_node"))
      .join(latestVisible(osm, OsmKind.Node).select(col("id").as("centre_node"),
        col("lat7").as("c_lat7"), col("lon7").as("c_lon7")), Seq("centre_node"), "left_outer")
    admin.drop("members")
      .join(ringsPerRel, Seq("relation_id"), "left_outer")
      .join(failedRels, Seq("relation_id"), "left_outer")
      .join(centres, Seq("relation_id"), "left_outer")
      .select(col("relation_id").as("relationId"),
        col("admin_level").as("adminLevel"), col("name"),
        coalesce(col("rings"), array()).as("rings"),
        col("c_lat7").as("centreLat7"), col("c_lon7").as("centreLon7"),
        (col("_failed").isNull && col("rings").isNotNull).as("complete"))
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

  /** Relations whose assembled geometry MAY change under `diffs`:
    * directly-changed relations, relations with a member way that was
    * changed or that references a changed node (way membership taken
    * from BOTH snapshots — a node leaving a way must still dirty the
    * way's old relations), and relations with a changed member node
    * (admin_centre moves). The diff side of every probe is the small
    * side and is broadcast under the usual bound. Output: one
    * `relation_id` column, distinct. */
  def touchedRelations(spark: SparkSession, prevSnapshot: Dataset[OsmEntity],
      newSnapshot: Dataset[OsmEntity], diffs: Dataset[OsmEntity],
      diffBroadcastMaxRows: Long = 4000000L): DataFrame = {
    import spark.implicits._
    val d = diffs.localCheckpoint()
    val nDiff = d.count()
    def bounded(df: DataFrame, est: Long) =
      graft.util.Joins.boundedBroadcast(df, est, diffBroadcastMaxRows)
    def ids(kind: Byte, as: String): DataFrame =
      d.filter(_.kind == kind).map(_.id).toDF(as).distinct()
    val dNodes = ids(OsmKind.Node, "node_id")
    val dWays = ids(OsmKind.Way, "way_id")
    val dRels = ids(OsmKind.Relation, "relation_id")
    def wayRefs(snap: Dataset[OsmEntity]): DataFrame =
      latestVisible(snap, OsmKind.Way)
        .select(col("id").as("way_id"), explode(col("refs")).as("node_id"))
    val waysViaNodes = wayRefs(prevSnapshot).union(wayRefs(newSnapshot))
      .join(bounded(dNodes, nDiff), Seq("node_id"), "left_semi")
      .select("way_id").distinct()
    val touchedWays = dWays.union(waysViaNodes).distinct()
    def relMembers(snap: Dataset[OsmEntity]): DataFrame =
      latestVisible(snap, OsmKind.Relation)
        .select(col("id").as("relation_id"), explode(col("members")).as("m"))
    val members = relMembers(prevSnapshot).union(relMembers(newSnapshot))
    val viaWays = members.filter(col("m.mtype") === OsmKind.Way)
      .select(col("relation_id"), col("m.ref").as("way_id"))
      .join(bounded(touchedWays, nDiff * 4), Seq("way_id"), "left_semi")
      .select("relation_id")
    val viaNodes = members.filter(col("m.mtype") === OsmKind.Node)
      .select(col("relation_id"), col("m.ref").as("node_id"))
      .join(bounded(dNodes, nDiff), Seq("node_id"), "left_semi")
      .select("relation_id")
    dRels.union(viaWays).union(viaNodes).distinct()
  }

  /** Incremental admin-area maintenance: apply a replication-diff batch
    * and rebuild ONLY the touched relations, carrying every other area
    * over unchanged — the planet-scale answer to minutely diffs (a full
    * rebuild re-stitches ~10^6 relations for a batch touching a
    * handful). Equivalence to the full rebuild on the new snapshot is
    * spec-pinned (AdminAreasSpec). The result carries the new snapshot
    * (what the next diff batch applies against), the merged area set,
    * and the touched/rebuilt frames [[incrementalCover]] consumes. */
  final case class IncrementalResult(
      snapshot: Dataset[OsmEntity], areas: Dataset[AdminArea],
      touched: DataFrame, rebuilt: Dataset[AdminArea])

  def incrementalUpdate(spark: SparkSession, prevSnapshot: Dataset[OsmEntity],
      prevAreas: Dataset[AdminArea], diffs: Dataset[OsmEntity],
      localMaxSegs: Int = DefaultLocalMaxSegs): IncrementalResult = {
    import spark.implicits._
    // the merged snapshot is consumed by ~6 downstream scans (touch
    // probes over both snapshots, the restricted rebuild, and whatever
    // the caller does next) — materialize it once; at planet scale this
    // is the snapshot stage a real pipeline persists anyway
    val next = graft.streaming.Replication.applyDiffs(spark, prevSnapshot, diffs)
      .localCheckpoint()
    val touched = touchedRelations(spark, prevSnapshot, next, diffs)
      .localCheckpoint()
    // rebuilt: touched relations still admin+visible in the NEW
    // snapshot (deleted / de-tagged relations drop out of the semi-join
    // naturally); kept: everything untouched rides over as-is. The
    // rebuilt side is checkpointed because the result exposes it to
    // the area merge AND the cover merge.
    val rebuilt = build(spark, next, localMaxSegs, Some(touched))
      .localCheckpoint()
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
    * the cover computation. `rebuiltAreas` must be exactly the areas
    * built for the touched set; `touched` the id frame that selected
    * them. */
  def incrementalCover(spark: SparkSession, prevCover: Dataset[CoverRowEx],
      rebuiltAreas: Dataset[AdminArea], touched: DataFrame,
      maxLevel: Int): Dataset[CoverRowEx] = {
    import spark.implicits._
    val kept = prevCover
      .join(touched, prevCover("relationId") === touched("relation_id"),
        "left_anti")
      .as[CoverRowEx]
    kept.union(coverTableDetailed(spark, rebuiltAreas, maxLevel))
  }
}
