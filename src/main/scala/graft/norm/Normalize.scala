package graft.norm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{OsmEntity, OsmKind, OsmMember, OsmTag}

/** The apidb-shaped normalized layer (SURVEY.md §1.1.2, §2-B/C/D):
  * demultiplex a typed entity stream into the 10 tables the reference
  * dumps (/root/reference/src/db/pg.rs:193-202), and reassemble them
  * back. Round-trip identity with the reference's exact relaxations —
  * tag ORDER preserved (export-test/main.rs:86 compares tag vectors
  * with ==), member order NOT significant (main.rs:113-127 sorts before
  * comparing), coordinates exact 1e-7 (main.rs:81). */
object Normalize {

  final case class ApiDb(
      nodes: DataFrame, nodeTags: DataFrame,
      ways: DataFrame, wayTags: DataFrame, wayNodes: DataFrame,
      relations: DataFrame, relationTags: DataFrame, relationMembers: DataFrame,
      users: DataFrame, changesets: DataFrame) {
    /** The 10 tables under their apidb names, in field order. */
    def tables: Seq[(String, DataFrame)] = ApiDb.TableNames.zip(Seq(nodes,
      nodeTags, ways, wayTags, wayNodes, relations, relationTags,
      relationMembers, users, changesets))
  }

  object ApiDb {
    private val TableNames: Seq[String] = Seq("nodes", "node_tags", "ways",
      "way_tags", "way_nodes", "relations", "relation_tags",
      "relation_members", "users", "changesets")

    /** The 10 tables as parquet directories named after them in `dir`. */
    def readParquet(spark: SparkSession, dir: String): ApiDb = {
      val t = TableNames.map(n => spark.read.parquet(s"$dir/$n"))
      ApiDb(t(0), t(1), t(2), t(3), t(4), t(5), t(6), t(7), t(8), t(9))
    }
  }

  /** B1 type dispatch + B2-B4 explodes + D3 users dedup + D4 changeset
    * synthesis. Every table keeps (id, version) so history rows survive
    * (HistoricalInformation, src/lib.rs:179). */
  def demux(osm: Dataset[OsmEntity]): ApiDb = {
    val e = osm.toDF().cache()
    def meta(kind: Byte, idCol: String) = e.filter(col("kind") === kind)
      .select(col("id").as(idCol), col("version"), col("visible"),
        col("tsMillis").as("ts_millis"), col("changeset").as("changeset_id"),
        col("uid"))
    def tags(kind: Byte, idCol: String) = e.filter(col("kind") === kind)
      .select(col("id").as(idCol), col("version"),
        posexplode(col("tags")).as(Seq("seq", "t")))
      .select(col(idCol), col("version"), col("seq"),
        col("t.k").as("k"), col("t.v").as("v"))
    val nodes = e.filter(col("kind") === OsmKind.Node)
      .select(col("id").as("node_id"), col("version"), col("visible"),
        col("lat7"), col("lon7"), col("tsMillis").as("ts_millis"),
        col("changeset").as("changeset_id"), col("uid"))
    val wayNodes = e.filter(col("kind") === OsmKind.Way)
      .select(col("id").as("way_id"), col("version"),
        posexplode(col("refs")).as(Seq("sequence_id", "node_id")))
    val relMembers = e.filter(col("kind") === OsmKind.Relation)
      .select(col("id").as("relation_id"), col("version"),
        posexplode(col("members")).as(Seq("sequence_id", "m")))
      .select(col("relation_id"), col("version"), col("sequence_id"),
        col("m.mtype").as("member_type"), col("m.ref").as("member_id"),
        col("m.role").as("role"))
    // D3: distinct (uid, display name) across all element versions
    val users = e.select(col("uid"), col("user").as("name"))
      .filter(col("uid") >= 0)
      .groupBy("uid").agg(max(col("name")).as("name"))
    // D4: changesets synthesized from element metadata (public apidb
    // columns: user, created/closed span, bbox, num_changes)
    val changesets = e.filter(col("changeset") >= 0)
      .groupBy(col("changeset").as("changeset_id"))
      .agg(min(col("uid")).as("uid"),
        min(col("tsMillis")).as("created_at_ms"),
        max(col("tsMillis")).as("closed_at_ms"),
        min(col("lat7")).as("min_lat7"), max(col("lat7")).as("max_lat7"),
        min(col("lon7")).as("min_lon7"), max(col("lon7")).as("max_lon7"),
        count(lit(1)).as("num_changes"))
    ApiDb(
      nodes = nodes,
      nodeTags = tags(OsmKind.Node, "node_id"),
      ways = meta(OsmKind.Way, "way_id"),
      wayTags = tags(OsmKind.Way, "way_id"),
      wayNodes = wayNodes,
      relations = meta(OsmKind.Relation, "relation_id"),
      relationTags = tags(OsmKind.Relation, "relation_id"),
      relationMembers = relMembers,
      users = users,
      changesets = changesets)
  }

  /** C1-C6 reassembly joins + D5 re-nesting: tables → typed entities.
    * Tag order restored via seq (C1); way refs via sequence_id (C2);
    * members sorted by sequence for determinism though semantically
    * unordered (C4); user names recovered via broadcast join (C6). */
  def reassemble(spark: SparkSession, db: ApiDb): Dataset[OsmEntity] = {
    import spark.implicits._
    val users = broadcast(db.users)

    def nest(tags: DataFrame, idCol: String) = tags
      .groupBy(col(idCol), col("version"))
      .agg(transform(array_sort(collect_list(struct(col("seq"), col("k"), col("v")))),
        t => struct(t.getField("k").as("k"), t.getField("v").as("v"))).as("tags"))

    val nodes = db.nodes
      .join(nest(db.nodeTags, "node_id"), Seq("node_id", "version"), "left_outer")
      .join(users, Seq("uid"), "left_outer")
      .select(lit(OsmKind.Node).as("kind"), col("node_id").as("id"),
        col("version"), col("visible"), col("lat7"), col("lon7"),
        col("ts_millis").as("tsMillis"), col("changeset_id").as("changeset"),
        col("uid"), coalesce(col("name"), lit("")).as("user"),
        coalesce(col("tags"), array().cast("array<struct<k:string,v:string>>")).as("tags"),
        array().cast("array<bigint>").as("refs"),
        array().cast("array<struct<mtype:tinyint,ref:bigint,role:string>>").as("members"))

    val refs = db.wayNodes
      .groupBy(col("way_id"), col("version"))
      .agg(transform(array_sort(collect_list(struct(col("sequence_id"), col("node_id")))),
        t => t.getField("node_id")).as("refs"))
    val ways = db.ways
      .join(nest(db.wayTags, "way_id"), Seq("way_id", "version"), "left_outer")
      .join(refs, Seq("way_id", "version"), "left_outer")
      .join(users, Seq("uid"), "left_outer")
      .select(lit(OsmKind.Way).as("kind"), col("way_id").as("id"),
        col("version"), col("visible"),
        lit(null).cast("bigint").as("lat7"), lit(null).cast("bigint").as("lon7"),
        col("ts_millis").as("tsMillis"), col("changeset_id").as("changeset"),
        col("uid"), coalesce(col("name"), lit("")).as("user"),
        coalesce(col("tags"), array().cast("array<struct<k:string,v:string>>")).as("tags"),
        coalesce(col("refs"), array().cast("array<bigint>")).as("refs"),
        array().cast("array<struct<mtype:tinyint,ref:bigint,role:string>>").as("members"))

    val members = db.relationMembers
      .groupBy(col("relation_id"), col("version"))
      .agg(transform(
        array_sort(collect_list(struct(col("sequence_id"), col("member_type"),
          col("member_id"), col("role")))),
        t => struct(t.getField("member_type").as("mtype"),
          t.getField("member_id").as("ref"), t.getField("role").as("role"))).as("members"))
    val relations = db.relations
      .join(nest(db.relationTags, "relation_id"), Seq("relation_id", "version"), "left_outer")
      .join(members, Seq("relation_id", "version"), "left_outer")
      .join(users, Seq("uid"), "left_outer")
      .select(lit(OsmKind.Relation).as("kind"), col("relation_id").as("id"),
        col("version"), col("visible"),
        lit(null).cast("bigint").as("lat7"), lit(null).cast("bigint").as("lon7"),
        col("ts_millis").as("tsMillis"), col("changeset_id").as("changeset"),
        col("uid"), coalesce(col("name"), lit("")).as("user"),
        coalesce(col("tags"), array().cast("array<struct<k:string,v:string>>")).as("tags"),
        array().cast("array<bigint>").as("refs"),
        coalesce(col("members"),
          array().cast("array<struct<mtype:tinyint,ref:bigint,role:string>>")).as("members"))

    nodes.union(ways).union(relations).as[OsmEntity]
  }

  /** F1/C8: order-free stream equality with the reference's relaxations
    * (tags ordered, members canonicalized by sort). Returns the number
    * of mismatching (kind,id,version) keys — 0 ⇔ identical. One
    * tagged-union aggregation instead of the round-8 full-outer join:
    * the same payload bytes cross the network exactly once either way,
    * but the single groupBy needs one Exchange where the join planned
    * two plus a join operator. The payload comparison stays EXACT
    * (min-of-side payload structs compared field by field — no hash
    * weakening of an equality witness); a side with a duplicate key
    * counts as a mismatch unless both sides duplicate identically,
    * which for valid OSM streams (unique (kind,id,version)) coincides
    * with the join formulation. */
  def diffCount(a: Dataset[OsmEntity], b: Dataset[OsmEntity]): Long = {
    def canon(ds: Dataset[OsmEntity], side: Int): DataFrame = ds.toDF().select(
      col("kind"), col("id"), col("version"), lit(side).as("side"),
      struct(col("visible"), col("lat7"), col("lon7"), col("tsMillis"),
        col("changeset"), col("uid"), col("user"), col("tags"), col("refs"),
        array_sort(col("members")).as("members")).as("payload"))
    canon(a, 0).unionByName(canon(b, 1))
      .groupBy("kind", "id", "version")
      .agg(
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("nb"),
        min(when(col("side") === 0, col("payload"))).as("pa"),
        min(when(col("side") === 1, col("payload"))).as("pb"),
        max(when(col("side") === 0, col("payload"))).as("qa"),
        max(when(col("side") === 1, col("payload"))).as("qb"))
      .filter(col("na") =!= col("nb") || col("pa") =!= col("pb") ||
        col("qa") =!= col("qb"))
      .count()
  }
}
