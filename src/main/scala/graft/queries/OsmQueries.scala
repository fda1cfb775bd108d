package graft.queries

import org.apache.spark.sql.functions._

import graft.norm.Normalize
import graft.pbf.PbfRead
import graft.util.QueryDef

/** OSM pipeline invariants surfaced through the driver gate as
  * VALUES-oracled summary rows (the heavy lifting is in the specs;
  * these make the round-trip property machine-checked every round). */
object OsmQueries {

  private val fixture = "/root/reference/tests/fixtures/niue-230612.osm.pbf"

  /** (rows, multi-version ids, invisible rows) of an entity stream in
    * ONE aggregation pass instead of three driver actions; total on an
    * empty stream, which yields (0, 0, 0). */
  private[queries] def streamStats(osm: org.apache.spark.sql.DataFrame)
      : (Long, Long, Long) = {
    val stats = osm.groupBy("kind", "id")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("visible"), 0L).otherwise(1L)).as("inv"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n"),
        count(when(col("cnt") > 1, 1)).as("multi"),
        coalesce(sum(col("inv")), lit(0L)).as("invis"))
      .head()
    (stats.getLong(0), stats.getLong(1), stats.getLong(2))
  }

  /** The fixture decode, once per session: every gate query here (and
    * diffCount inside them) consumes the stream 2-3×, so the
    * materialized form saves repeated full decodes without weakening
    * the gates (PbfReadSpec pins the decode itself). */
  private lazy val fixtureCached =
    new graft.util.SessionCache[org.apache.spark.sql.Dataset[graft.model.OsmEntity]]

  private[queries] def osmFixture(s: org.apache.spark.sql.SparkSession) =
    // repartition(8): the 3.4 MB fixture decodes into 1-2 blob-sized
    // partitions (PbfRead sizes partitions off BYTE length — right for
    // production archives, serial for this tiny fixture), which made
    // every downstream no-shuffle stage single-task (measured: each
    // pgcopy table write ran one ~0.5 s task). Eight fixture partitions
    // parallelize those stages; all consumers aggregate, so row order
    // is immaterial.
    fixtureCached.get(s)(PbfRead.read(s, fixture).repartition(8).localCheckpoint())

  private lazy val fixtureLVCached =
    new graft.util.SessionCache[org.apache.spark.sql.Dataset[graft.model.OsmEntity]]

  /** The fixture resolved to LATEST-VISIBLE entities, once per session —
    * the staged snapshot both eager geo gates (q_admin_incremental,
    * q_extract) consume. latestVisible is idempotent and every consumer
    * reads its input only through it, so pre-resolving is semantics-
    * preserving (their frozen VALUES goldens re-prove it each run);
    * sharing it stops each gate paying the 3-kind window resolution
    * separately. This mirrors production, where extracts and diff
    * application run against a persisted snapshot stage whose stored
    * form IS latest-visible. */
  private[queries] def osmFixtureLV(s: org.apache.spark.sql.SparkSession) =
    fixtureLVCached.get(s) {
      import s.implicits._
      import graft.model.{OsmEntity, OsmKind}
      val osm = osmFixture(s)
      Seq(OsmKind.Node, OsmKind.Way, OsmKind.Relation)
        .map(k => graft.jobs.AdminAreas.latestVisible(osm, k).as[OsmEntity])
        .reduce(_ union _)
        .localCheckpoint()
    }

  /** Deterministic MULTI-VERSION (history) fixture — the reference's
    * `history-*` test ladder shape (/root/reference/bin/run-tests.sh:
    * 4-8, HistoricalInformation src/lib.rs:179): version chains per id,
    * `visible=false` deletions (including a delete→recreate chain on
    * node 7), tag/coord/ref/member churn across versions, and empty
    * tag/ref/member lists on the deleted versions. 125 node + 20 way +
    * 6 relation rows = 151 entities over 63 ids. */
  private[graft] def historyFixture(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.Dataset[graft.model.OsmEntity] = {
    import s.implicits._
    import graft.model.{OsmEntity, OsmKind, OsmMember, OsmTag}
    def ts(i: Int, v: Int): Long = 1500000000000L + (i * 10L + v) * 1000L
    val nodes = for {
      i <- 1 to 50
      nv = 1 + (i % 4)
      v <- 1 to nv
      vis = !(i % 5 == 0 && v == nv) && !(i == 7 && v == 2)
    } yield OsmEntity(OsmKind.Node, i.toLong, v, vis,
      Some(i * 1000L + v), Some(-i * 1000L - v), ts(i, v), 9000L + v,
      100 + (i % 3), s"u${i % 3}",
      if (vis) Seq(OsmTag("name", s"n$i"), OsmTag("v", v.toString))
      else Seq.empty, Seq.empty, Seq.empty)
    val ways = for {
      i <- 1 to 10
      nv = 1 + (i % 3)
      v <- 1 to nv
      vis = !(i % 4 == 0 && v == nv)
    } yield OsmEntity(OsmKind.Way, i.toLong, v, vis, None, None,
      ts(100 + i, v), 9100L + v, 100 + (i % 3), s"u${i % 3}",
      if (vis) Seq(OsmTag("highway", s"h$v")) else Seq.empty,
      if (vis) Seq.tabulate(2 + (v % 3))(j => (i + j * 7 + v).toLong)
      else Seq.empty, Seq.empty)
    val rels = for {
      i <- 1 to 3
      v <- 1 to 2
      vis = !(i == 3 && v == 2)
    } yield OsmEntity(OsmKind.Relation, i.toLong, v, vis, None, None,
      ts(200 + i, v), 9200L + v, 100 + (i % 3), s"u${i % 3}",
      if (vis) Seq(OsmTag("type", "multipolygon")) else Seq.empty,
      Seq.empty,
      if (vis) Seq(OsmMember(OsmKind.Node, i.toLong, "admin_centre"),
        OsmMember(OsmKind.Way, i.toLong, s"outer$v"),
        OsmMember(OsmKind.Relation, ((i % 3) + 1).toLong, ""))
      else Seq.empty)
    s.createDataset(nodes ++ ways ++ rels)
  }

  val defs: Seq[QueryDef] = Seq(

    // master property: pbf → apidb tables → reassemble ≡ original
    QueryDef(
      "q_osm_roundtrip",
      (s, _) => {
        // the reassembly joins + diff aggregation execute eagerly in
        // here over the 45k-row fixture — scope the shuffle sizing to
        // match (the same fixture-sized-eager-section rule as
        // q_admin_incremental / q_extract)
        val (n, diffs) = graft.util.Scoped.shufflePartitions(s, 8) {
          val osm = osmFixture(s)
          val back = Normalize.reassemble(s, Normalize.demux(osm))
          (osm.count(), Normalize.diffCount(osm, back))
        }
        import s.implicits._
        Seq((n, diffs)).toDF("n_entities", "n_diffs")
      },
      Some("""SELECT CAST(45000 AS BIGINT) AS n_entities,
             |       CAST(0 AS BIGINT) AS n_diffs""".stripMargin)),

    // HISTORY round trip (reference history-* fixtures): a
    // multi-version stream with deletions survives BOTH hops —
    // fixture → PBF file → decode ≡ fixture, and decode → apidb
    // tables → reassemble ≡ decode. Every reassembly join keys on
    // (id, version), so version chains must neither collapse nor
    // cross-contaminate; visible=false rows must keep their identity
    // fields through the PBF Info encoding.
    QueryDef(
      "q_osm_roundtrip_history",
      (s, _) => graft.util.Scoped.shufflePartitions(s, 8) {
        // both round-trip hops + diffs execute eagerly in here over a
        // 151-row fixture — scope the shuffle sizing to match
        import s.implicits._
        val osm = historyFixture(s).localCheckpoint()
        val dir = graft.util.Staging.dir("history_pbf", "fixture")
          .resolve("history.osm.pbf").toString
        graft.pbf.PbfWrite.write(s, osm, dir, partitions = 4)
        val back = graft.pbf.PbfRead.read(s, dir).localCheckpoint()
        val dPbf = Normalize.diffCount(osm, back)
        val dTables = Normalize.diffCount(back,
          Normalize.reassemble(s, Normalize.demux(back)))
        val (n, multi, invis) = streamStats(back.toDF())
        Seq((n, multi, invis, dPbf, dTables))
          .toDF("n_entities", "n_multi_ids", "n_invisible",
            "n_diffs_pbf", "n_diffs_tables")
      },
      Some("""SELECT CAST(151 AS BIGINT) AS n_entities,
             |  CAST(48 AS BIGINT) AS n_multi_ids,
             |  CAST(14 AS BIGINT) AS n_invisible,
             |  CAST(0 AS BIGINT) AS n_diffs_pbf,
             |  CAST(0 AS BIGINT) AS n_diffs_tables""".stripMargin)),

    // A5/A6 as surveyed: pg_dump COPY-text interop — fixture → COPY
    // dump dir → read back → reassemble ≡ original (tags canonicalized
    // by (k,v): the apidb schema has no tag-order column)
    QueryDef(
      "q_pgcopy_roundtrip",
      (s, _) => graft.util.Scoped.shufflePartitions(s, 8) {
        // COPY write + parse + reassembly + diff execute eagerly in
        // here over the 45k-row fixture — scope the shuffle sizing to
        // match
        import s.implicits._
        val osm = osmFixture(s)
        val dir = "/tmp/graft-pgcopy-gate"
        graft.norm.PgCopy.writeApiDb(Normalize.demux(osm), dir)
        // materialize: consumed by both the diff and the row count —
        // without this the COPY parse + reassembly joins run twice
        val back = Normalize.reassemble(s, graft.norm.PgCopy.readApiDb(s, dir))
          .localCheckpoint()
        // canonicalize tag order NATIVELY (array_sort on struct<k,v> is
        // a deterministic total order, codegen-friendly) instead of a
        // per-row typed map that (de)serializes every entity twice; any
        // consistent canonical order on both sides preserves the diff
        // count exactly (sorted lists equal ⟺ tag multisets equal)
        def canonTags(ds: org.apache.spark.sql.Dataset[graft.model.OsmEntity]) =
          ds.withColumn("tags", array_sort(col("tags"))).as[graft.model.OsmEntity]
        val diffs = Normalize.diffCount(canonTags(osm), canonTags(back))
        val n = back.count()
        Seq((n, diffs)).toDF("n_entities", "n_diffs")
      },
      Some("""SELECT CAST(45000 AS BIGINT) AS n_entities,
             |       CAST(0 AS BIGINT) AS n_diffs""".stripMargin)),

    // A3/D1: count objects by kind (reference count_objects, lib.rs:50)
    QueryDef(
      "q_osm_counts",
      (s, _) => {
        import s.implicits._
        osmFixture(s).groupBy("kind").count().orderBy("kind")
      },
      Some("""SELECT * FROM (VALUES
             | (CAST(0 AS TINYINT), CAST(41861 AS BIGINT)),
             | (CAST(1 AS TINYINT), CAST(3014 AS BIGINT)),
             | (CAST(2 AS TINYINT), CAST(125 AS BIGINT))
             |) AS t(kind, count) ORDER BY kind""".stripMargin)),

    // D2: bounding-box fold over visible nodes (reference lib.rs:255-291)
    QueryDef(
      "q_osm_bbox",
      (s, _) =>
        osmFixture(s).toDF()
          .filter(col("kind") === 0 && col("visible"))
          .agg(min("lon7").as("left7"), min("lat7").as("bottom7"),
            max("lon7").as("right7"), max("lat7").as("top7")),
      Some("""SELECT CAST(-1701595029 AS BIGINT) AS left7,
             |  CAST(-193548665 AS BIGINT) AS bottom7,
             |  CAST(-1695647229 AS BIGINT) AS right7,
             |  CAST(-187534559 AS BIGINT) AS top7""".stripMargin))
  )
}
