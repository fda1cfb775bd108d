package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{OsmEntity, OsmKind}

/** Regional extracts — the stated purpose of the reference's own
  * indexing roadmap (/root/reference/README.md:21-23, v0.3 "indexing …
  * to enable extraction of regional data"), composed entirely from the
  * engine's existing pieces: region = a bbox predicate or an admin
  * relation's assembled multipolygon (cover + localized-PIP containment
  * join), then a referential-completeness closure:
  *
  *   - NODES: latest visible nodes inside the region (seeds), plus
  *     every node referenced by a kept way (complete-ways policy — a
  *     way is never truncated, so geometry round-trips).
  *   - WAYS: latest visible ways referencing ≥1 seed node, kept
  *     COMPLETE (all their refs join the node set).
  *   - RELATIONS: latest visible relations with ≥1 kept way/node
  *     member, plus ONE parent sweep (super-relations whose member
  *     relation was kept); members whose target is outside the extract
  *     are CLIPPED out, surviving member order preserved.
  *
  * Scale shape: everything is id-keyed semi-joins and one explode per
  * element list — no geometry beyond the seed selection, no driver
  * materialization; the closure frames (`node_id`/`way_id`/
  * `relation_id`) are the only checkpointed sets and are O(extract),
  * not O(planet). Output feeds PbfWrite's Type_then_ID sink unchanged.
  */
object Extract {

  /** Latest visible version of each element of one kind — delegates to
    * the assembler's shared helper (one definition of the
    * snapshot-resolution rule). */
  private def latestVisible(osm: Dataset[OsmEntity], kind: Byte): Dataset[OsmEntity] = {
    import osm.sparkSession.implicits._
    AdminAreas.latestVisible(osm, kind).as[OsmEntity]
  }

  /** Extract by bounding box, coordinates in 1e-7° (inclusive). */
  def bbox(spark: SparkSession, osm: Dataset[OsmEntity],
      left: Long, bottom: Long, right: Long, top: Long): Dataset[OsmEntity] = {
    val nodesLV = latestVisible(osm, OsmKind.Node)
    val seeds = nodesLV.toDF()
      .filter(col("lon7") >= left && col("lon7") <= right &&
        col("lat7") >= bottom && col("lat7") <= top)
      .select(col("id").as("node_id"))
    complete(spark, osm, nodesLV, seeds)
  }

  /** Extract by admin relation id: the region is that relation's
    * multipolygon assembled FROM THE INPUT SNAPSHOT ITSELF (way
    * stitching + winding normalization), seeds selected with the same
    * cover + localized-refine containment join the flagship uses. */
  def byRelation(spark: SparkSession, osm: Dataset[OsmEntity], relationId: Long,
      p: SpatialJoin.Params = SpatialJoin.Params(coverMaxLevel = 14)): Dataset[OsmEntity] = {
    import spark.implicits._
    val only = Seq(relationId).toDF("relation_id")
    val area = AdminAreas.build(spark, osm, onlyRelations = Some(only))
    require(!area.isEmpty,
      s"relation $relationId is not an assemblable admin boundary in this snapshot")
    byArea(spark, osm, area, p)
  }

  /** Extract by a PRE-BUILT admin area set (e.g. the persisted output
    * of the `admin` stage) — a production pipeline reuses the assembled
    * polygons instead of re-stitching per extract; [[byRelation]] is
    * the self-contained form. */
  def byArea(spark: SparkSession, osm: Dataset[OsmEntity],
      area: Dataset[AdminAreas.AdminArea],
      p: SpatialJoin.Params = SpatialJoin.Params(coverMaxLevel = 14)): Dataset[OsmEntity] = {
    val nodesLV = latestVisible(osm, OsmKind.Node)
    val nodes = nodesLV.toDF()
      .select(col("id").as("node_id"), col("lat7"), col("lon7"))
    // containment-only prep: extracts never build the kNN, so the
    // centre-index materialization of the full prepare() is skipped
    val (cover, polygons, info) = SpatialJoin.prepareContainment(spark, area, p)
    val seeds = SpatialJoin
      .containmentJoin(spark, nodes, cover, polygons, p, Some(info))
      .select("node_id")
    complete(spark, osm, nodesLV, seeds)
  }

  /** The referential-completeness closure + relation clip over a seed
    * node-id frame. */
  private def complete(spark: SparkSession, osm: Dataset[OsmEntity],
      nodesLV: Dataset[OsmEntity], seedNodeIds: DataFrame): Dataset[OsmEntity] = {
    import spark.implicits._
    val seeds = seedNodeIds.toDF("node_id").distinct().localCheckpoint()
    val ways = latestVisible(osm, OsmKind.Way)
    val wayRefs = ways.select(col("id").as("way_id"), explode(col("refs")).as("node_id"))
    val keptWays = wayRefs.join(seeds, Seq("node_id"), "left_semi")
      .select("way_id").distinct().localCheckpoint()
    // complete-ways: the node set closes over every kept way's refs
    val keptNodes = seeds
      .union(wayRefs.join(keptWays, Seq("way_id"), "left_semi").select("node_id"))
      .distinct().localCheckpoint()
    val rels = latestVisible(osm, OsmKind.Relation)
    val relMembers = rels
      .select(col("id").as("relation_id"), posexplode(col("members")).as(Seq("pos", "m")))
    val relsViaWay = relMembers.filter(col("m.mtype") === lit(OsmKind.Way))
      .join(keptWays, col("m.ref") === col("way_id"), "left_semi")
      .select("relation_id")
    val relsViaNode = relMembers.filter(col("m.mtype") === lit(OsmKind.Node))
      .join(keptNodes, col("m.ref") === col("node_id"), "left_semi")
      .select("relation_id")
    val keptRels0 = relsViaWay.union(relsViaNode).distinct().localCheckpoint()
    // one parent sweep: super-relations that contain a kept relation
    val parents = relMembers.filter(col("m.mtype") === lit(OsmKind.Relation))
      .join(keptRels0.select(col("relation_id").as("child_id")),
        col("m.ref") === col("child_id"), "left_semi")
      .select("relation_id")
    val keptRels = keptRels0.union(parents).distinct().localCheckpoint()
    // clip: a member survives iff its target is in the extract; order
    // of surviving members is preserved via posexplode + sorted re-nest
    val keptRefs = keptNodes
      .select(lit(OsmKind.Node.toInt).as("ktype"), col("node_id").as("kref"))
      .union(keptWays.select(lit(OsmKind.Way.toInt), col("way_id")))
      .union(keptRels.select(lit(OsmKind.Relation.toInt), col("relation_id")))
    val clippedMembers = relMembers
      .join(keptRels, Seq("relation_id"), "left_semi")
      .join(keptRefs, col("m.mtype").cast("int") === col("ktype") &&
        col("m.ref") === col("kref"), "left_semi")
      .groupBy("relation_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("relation_id"), expr("transform(pm, x -> x.m)").as("members"))
    val entityCols = Seq("kind", "id", "version", "visible", "lat7", "lon7",
      "tsMillis", "changeset", "uid", "user", "tags", "refs", "members")
    // nodesLV is the SAME latest-visible frame the seed selection
    // used — ONE DEFINITION of the node snapshot rule (the window still
    // executes in this output branch; materializing 10^10 node rows to
    // avoid that recompute would cost more than the extra scan, and a
    // production pipeline extracts from an already-persisted snapshot
    // stage where latest-visible is the stored form)
    val outNodes = nodesLV
      .join(keptNodes, col("id") === col("node_id"), "left_semi")
      .as[OsmEntity]
    val outWays = ways.join(keptWays, col("id") === col("way_id"), "left_semi")
      .as[OsmEntity]
    val outRels = rels.toDF().drop("members")
      .join(clippedMembers, col("id") === col("relation_id"))
      .select(entityCols.map(col): _*)
      .as[OsmEntity]
    outNodes.union(outWays).union(outRels)
  }
}
