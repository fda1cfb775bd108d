package graft.norm

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.PgTextFunctions
import graft.model.OsmKind
import graft.util.Obs

/** PostgreSQL COPY-text interop for the 10 apidb tables (SURVEY.md
  * A5/A6 as surveyed): the reference's on-disk interchange is a pg_dump
  * of the public openstreetmap apidb schema in COPY text format
  * (/root/reference/src/db/pg.rs:191-206, `--format d --compress 0`).
  * This module reads/writes those COPY text files distributed
  * (spark.read.text + codegen unescape; escape via chained replaces),
  * converting to/from the engine's canonical [[Normalize.ApiDb]] layer,
  * so data can migrate out of (or back into) the reference's actual
  * Postgres without the reference binary.
  *
  * Documented deviations (inherent to the apidb schema, not this
  * reader): tag ORDER is not representable (no sequence column — tags
  * canonicalize sorted by (k,v)). The default `users` layout is the
  * FULL public openstreetmap-website table (all auth columns, in
  * physical COPY order) so a real pg_dump users.dat ingests unmodified;
  * only (id, display_name) carry OSM data — our own dumps fill the rest
  * with honest defaults/NULLs. A reduced dump can pass
  * [[usersMinimalLayout]] (or any layout) via `readApiDb(...,
  * usersLayout = ...)` / the CLI `--users-layout=` option. */
object PgCopy {

  /** Legacy/reduced users layout: just the OSM-relevant columns. */
  val usersMinimalLayout: Seq[(String, String)] =
    Seq("id" -> "bigint", "display_name" -> "string")

  /** The full public openstreetmap-website `users` table in COPY
    * (physical) column order — public schema, db/structure.sql. Pinned
    * against the vendored upstream DDL (test resource
    * openstreetmap-structure-users.sql) in PgCopySpec. */
  val usersFullLayout: Seq[(String, String)] = Seq(
    "email" -> "string", "id" -> "bigint", "pass_crypt" -> "string",
    "creation_time" -> "ts", "display_name" -> "string",
    "data_public" -> "boolean", "description" -> "string",
    "home_lat" -> "double", "home_lon" -> "double", "home_zoom" -> "int",
    "pass_salt" -> "string", "email_valid" -> "boolean",
    "new_email" -> "string", "creation_ip" -> "string",
    "languages" -> "string", "status" -> "string",
    "terms_agreed" -> "ts", "consider_pd" -> "boolean",
    "auth_uid" -> "string", "preferred_editor" -> "string",
    "terms_seen" -> "boolean", "description_format" -> "string",
    "changesets_count" -> "int", "traces_count" -> "int",
    "diary_entries_count" -> "int", "image_use_gravatar" -> "boolean",
    "auth_provider" -> "string", "home_tile" -> "bigint",
    "tou_agreed" -> "ts")

  /** COPY column layouts (public apidb schema; "ts" = timestamp). */
  val schemas: Map[String, Seq[(String, String)]] = Map(
    "nodes" -> Seq("node_id" -> "bigint", "latitude" -> "int",
      "longitude" -> "int", "changeset_id" -> "bigint", "visible" -> "boolean",
      "timestamp" -> "ts", "tile" -> "bigint", "version" -> "bigint"),
    "node_tags" -> Seq("node_id" -> "bigint", "version" -> "bigint",
      "k" -> "string", "v" -> "string"),
    "ways" -> Seq("way_id" -> "bigint", "changeset_id" -> "bigint",
      "timestamp" -> "ts", "version" -> "bigint", "visible" -> "boolean",
      "redaction_id" -> "int"),
    "way_tags" -> Seq("way_id" -> "bigint", "k" -> "string", "v" -> "string",
      "version" -> "bigint"),
    "way_nodes" -> Seq("way_id" -> "bigint", "node_id" -> "bigint",
      "version" -> "bigint", "sequence_id" -> "bigint"),
    "relations" -> Seq("relation_id" -> "bigint", "changeset_id" -> "bigint",
      "timestamp" -> "ts", "version" -> "bigint", "visible" -> "boolean",
      "redaction_id" -> "int"),
    "relation_tags" -> Seq("relation_id" -> "bigint", "k" -> "string",
      "v" -> "string", "version" -> "bigint"),
    "relation_members" -> Seq("relation_id" -> "bigint",
      "member_type" -> "string", "member_id" -> "bigint",
      "member_role" -> "string", "version" -> "bigint", "sequence_id" -> "int"),
    "users" -> usersFullLayout,
    "changesets" -> Seq("id" -> "bigint", "user_id" -> "bigint",
      "created_at" -> "ts", "min_lat" -> "int", "max_lat" -> "int",
      "min_lon" -> "int", "max_lon" -> "int", "closed_at" -> "ts",
      "num_changes" -> "int"))

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** COPY-text escape for a string column (order matters: backslash
    * first). Everything stays inside whole-stage codegen. */
  private def pgEscape(c: Column): Column =
    Seq("\\" -> "\\\\", "\b" -> "\\b", "\f" -> "\\f", "\n" -> "\\n",
      "\r" -> "\\r", "\t" -> "\\t", "\u000B" -> "\\v")
      .foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }

  /** Distributed read of one COPY text table (file or directory of
    * parts). Skips the `\.` terminator pg_dump appends. */
  def readTable(spark: SparkSession, path: String, table: String): DataFrame =
    readTable(spark, path, schemas(table))

  /** Same, with an explicit column layout — the escape hatch for dumps
    * whose physical column set differs from [[schemas]] (e.g. a real
    * apidb `users` table carries ~20 auth columns; pass its full layout
    * and select the ones you need). */
  def readTable(spark: SparkSession, path: String,
      cols: Seq[(String, String)]): DataFrame = {
    spark.read.text(path)
      .filter(col("value") =!= "\\." && length(col("value")) > 0)
      .select(split(col("value"), "\t").as("f"))
      .select(cols.zipWithIndex.map { case ((name, tpe), i) =>
        val raw = PgTextFunctions.pg_unescape(try_element_at(col("f"), lit(i + 1)))
        (tpe match {
          case "bigint" => raw.cast("long")
          case "int" => raw.cast("int")
          case "double" => raw.cast("double")
          case "boolean" => raw === "t"
          // cast, not to_timestamp with a fixed pattern: real pg_dump
          // trims trailing fraction zeros ('.12', '.1234', ...) and the
          // cast accepts any fraction length (a fixed [.SSSSSS] pattern
          // threw under ANSI mode on those rows)
          case "ts" => unix_millis(raw.cast("timestamp"))
          case _ => raw
        }).as(name)
      }: _*)
  }

  /** Distributed write of one COPY text table. Loadable back with this
    * reader or `psql \copy <table> FROM <file>`. */
  def writeTable(df: DataFrame, path: String, table: String): Unit = {
    val cols = schemas(table)
    df.select(concat_ws("\t", cols.map { case (name, tpe) =>
      val rendered = tpe match {
        case "boolean" => when(col(name), lit("t")).otherwise(lit("f"))
        case "ts" => date_format(timestamp_millis(col(name)), TsFmt)
        case "string" => pgEscape(col(name))
        case _ => col(name).cast("string")
      }
      coalesce(rendered, lit("\\N"))
    }: _*).as("value")).write.mode("overwrite").text(path)
  }

  /** apidb QuadTile (public openstreetmap-website algorithm): 16-bit
    * x/y scaled from lon/lat, bits interleaved MSB-first, x first. */
  def quadTile(lat7: Column, lon7: Column): Column = {
    // round-half-up in integers: (v*65535 + span/2) div span
    val x = (((lon7 + 1800000000L) * 65535L) + 1800000000L) / 3600000000L
    val y = (((lat7 + 900000000L) * 65535L) + 900000000L) / 1800000000L
    (0 until 16).map { i =>
      shiftleft(shiftrightunsigned(x, i).bitwiseAND(1L), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftrightunsigned(y, i).bitwiseAND(1L), 2 * i))
    }.reduce(_ bitwiseOR _)
  }

  private val memberTypeName: Column => Column = c =>
    when(c === OsmKind.Node, "Node")
      .when(c === OsmKind.Way, "Way")
      .otherwise("Relation")

  /** Canonical tables → COPY text dump dir (one subdir per table).
    * The ten table writes are independent Spark jobs submitted
    * CONCURRENTLY (job submission is thread-safe): on a big cluster
    * small dimension tables no longer serialize behind the node table,
    * and locally the per-job scheduling gaps overlap. They run on a
    * pool this call creates and shuts down, so its threads start in the
    * caller's span; each write is a span of its own. */
  def writeApiDb(db: Normalize.ApiDb, dir: String): Unit = {
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Callable[Unit]]
    def enqueue(df: => DataFrame, path: String, table: String): Unit =
      jobs += { () =>
        Obs.span(df.sparkSession, s"pgcopy write $table")(writeTable(df, path, table))
      }
    enqueue(db.nodes.select(col("node_id"),
      col("lat7").cast("int").as("latitude"),
      col("lon7").cast("int").as("longitude"),
      col("changeset_id"), col("visible"),
      col("ts_millis").as("timestamp"),
      when(col("lat7").isNotNull && col("lon7").isNotNull,
        quadTile(col("lat7"), col("lon7"))).as("tile"),
      col("version").cast("long")), s"$dir/nodes", "nodes")
    enqueue(db.nodeTags.select(col("node_id"), col("version").cast("long"),
      col("k"), col("v")), s"$dir/node_tags", "node_tags")
    def meta(df: DataFrame, idCol: String) = df.select(col(idCol),
      col("changeset_id"), col("ts_millis").as("timestamp"),
      col("version").cast("long"), col("visible"),
      lit(null).cast("int").as("redaction_id"))
    enqueue(meta(db.ways, "way_id"), s"$dir/ways", "ways")
    enqueue(db.wayTags.select(col("way_id"), col("k"), col("v"),
      col("version").cast("long")), s"$dir/way_tags", "way_tags")
    enqueue(db.wayNodes.select(col("way_id"), col("node_id"),
      col("version").cast("long"), col("sequence_id").cast("long")),
      s"$dir/way_nodes", "way_nodes")
    enqueue(meta(db.relations, "relation_id"), s"$dir/relations", "relations")
    enqueue(db.relationTags.select(col("relation_id"), col("k"), col("v"),
      col("version").cast("long")), s"$dir/relation_tags", "relation_tags")
    enqueue(db.relationMembers.select(col("relation_id"),
      memberTypeName(col("member_type")).as("member_type"), col("member_id"),
      col("role").as("member_role"), col("version").cast("long"),
      col("sequence_id").cast("int")), s"$dir/relation_members", "relation_members")
    // full public users layout: only (id, display_name) carry OSM data;
    // the auth columns get honest defaults (NOT NULL columns) or NULL
    enqueue(db.users.select(
      lit(null).cast("string").as("email"),
      col("uid").cast("long").as("id"),
      lit("").as("pass_crypt"),
      lit(0L).as("creation_time"),
      col("name").as("display_name"),
      lit(true).as("data_public"),
      lit("").as("description"),
      lit(null).cast("double").as("home_lat"),
      lit(null).cast("double").as("home_lon"),
      lit(null).cast("int").as("home_zoom"),
      lit(null).cast("string").as("pass_salt"),
      lit(false).as("email_valid"),
      lit(null).cast("string").as("new_email"),
      lit(null).cast("string").as("creation_ip"),
      lit(null).cast("string").as("languages"),
      lit("active").as("status"),
      lit(null).cast("long").as("terms_agreed"),
      lit(false).as("consider_pd"),
      lit(null).cast("string").as("auth_uid"),
      lit(null).cast("string").as("preferred_editor"),
      lit(false).as("terms_seen"),
      lit("markdown").as("description_format"),
      lit(0).as("changesets_count"),
      lit(0).as("traces_count"),
      lit(0).as("diary_entries_count"),
      lit(false).as("image_use_gravatar"),
      lit(null).cast("string").as("auth_provider"),
      lit(null).cast("long").as("home_tile"),
      lit(null).cast("long").as("tou_agreed")), s"$dir/users", "users")
    enqueue(db.changesets.select(col("changeset_id").as("id"),
      col("uid").cast("long").as("user_id"),
      col("created_at_ms").as("created_at"),
      col("min_lat7").cast("int").as("min_lat"), col("max_lat7").cast("int").as("max_lat"),
      col("min_lon7").cast("int").as("min_lon"), col("max_lon7").cast("int").as("max_lon"),
      col("closed_at_ms").as("closed_at"),
      col("num_changes").cast("int")), s"$dir/changesets", "changesets")
    val pool = Executors.newFixedThreadPool(jobs.length)
    try {
      // await EVERY job before returning (or rethrowing): a fail-fast
      // unwind would leave the other writes still running in background
      // threads, racing any caller retry against this same dir
      val results = jobs.toSeq.map(pool.submit(_)).map(f => Try(f.get()))
      results.collectFirst {
        case Failure(e: ExecutionException) => throw e.getCause
        case Failure(e) => throw e
      }
    } finally pool.shutdownNow()
  }

  /** COPY text dump dir → canonical tables. apidb stores the author on
    * the CHANGESET, so element uid comes through the changesets join
    * (exactly how the reference reader resolves it). */
  def readApiDb(spark: SparkSession, dir: String,
      usersLayout: Seq[(String, String)] = schemas("users")): Normalize.ApiDb = {
    def t(n: String) = readTable(spark, s"$dir/$n", n)
    val csUid = t("changesets")
      .select(col("id").as("changeset_id"), col("user_id").cast("int").as("uid"))
    def withUid(df: DataFrame) = df.join(csUid, Seq("changeset_id"), "left_outer")
      .withColumn("uid", coalesce(col("uid"), lit(-1)))
    val nodes = withUid(t("nodes"))
      .select(col("node_id"), col("version").cast("int").as("version"),
        col("visible"),
        col("latitude").cast("long").as("lat7"),
        col("longitude").cast("long").as("lon7"),
        col("timestamp").as("ts_millis"), col("changeset_id"), col("uid"))
    def meta(n: String, idCol: String) = withUid(t(n))
      .select(col(idCol), col("version").cast("int").as("version"), col("visible"),
        col("timestamp").as("ts_millis"), col("changeset_id"), col("uid"))
    // tag order is not representable in apidb: canonicalize by (k, v)
    def tags(n: String, idCol: String) = {
      val w = Window.partitionBy(col(idCol), col("version")).orderBy(col("k"), col("v"))
      t(n).select(col(idCol), col("version").cast("int").as("version"),
        (row_number().over(w) - 1).as("seq"), col("k"), col("v"))
    }
    val members = t("relation_members").select(col("relation_id"),
      col("version").cast("int").as("version"),
      col("sequence_id").cast("int").as("sequence_id"),
      when(col("member_type") === "Node", OsmKind.Node)
        .when(col("member_type") === "Way", OsmKind.Way)
        .otherwise(OsmKind.Relation).cast("tinyint").as("member_type"),
      col("member_id"), col("member_role").as("role"))
    Normalize.ApiDb(
      nodes = nodes,
      nodeTags = tags("node_tags", "node_id"),
      ways = meta("ways", "way_id"),
      wayTags = tags("way_tags", "way_id"),
      wayNodes = t("way_nodes").select(col("way_id"),
        col("version").cast("int").as("version"),
        col("sequence_id").cast("int").as("sequence_id"), col("node_id")),
      relations = meta("relations", "relation_id"),
      relationTags = tags("relation_tags", "relation_id"),
      relationMembers = members,
      // a NULL parsed id means the COPY layout does not match the
      // dump's physical column order (loose casts would otherwise
      // propagate null/garbage uids SILENTLY — the layout constant is
      // transcribed from the public openstreetmap-website
      // db/structure.sql and cannot be re-verified offline, so a
      // mismatch must fail loudly; pass the dump's real layout via
      // usersLayout= / CLI --users-layout= if it ever differs)
      users = readTable(spark, s"$dir/users", usersLayout)
        .select(coalesce(col("id"), raise_error(lit(
          s"users COPY layout mismatch: parsed a NULL user id from " +
            s"$dir/users — pass the dump's physical column order via usersLayout")))
          .cast("int").as("uid"),
        col("display_name").as("name")),
      changesets = t("changesets").select(col("id").as("changeset_id"),
        col("user_id").cast("int").as("uid"),
        col("created_at").as("created_at_ms"),
        col("closed_at").as("closed_at_ms"),
        col("min_lat").cast("long").as("min_lat7"),
        col("max_lat").cast("long").as("max_lat7"),
        col("min_lon").cast("long").as("min_lon7"),
        col("max_lon").cast("long").as("max_lon7"),
        col("num_changes").cast("long").as("num_changes")))
  }
}
