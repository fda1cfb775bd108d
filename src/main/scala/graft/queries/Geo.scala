package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{GeoFunctions => G}
import graft.jobs.{AdminAreas, SpatialJoin}
import graft.pbf.PbfRead
import graft.synth.Pages
import graft.util.{QueryDef, Tables}

/** Geospatial operator coverage wired to the driver gate. Cell/kNN math
  * is pure integer arithmetic, so DuckDB oracles express the exact same
  * formulas; fixture-derived operators get VALUES-literal golden oracles
  * (admin set, tiles) or frozen order-invariant digests (join/knn/
  * geoparse — see GeoGolden), with row-level semantics independently
  * pinned in SpatialJoinSpec/GeoExpressionsSpec. */
object Geo {

  private val fixture = "/root/reference/tests/fixtures/niue-230612.osm.pbf"

  /** Deterministic synthetic points from the events table, identical
    * formulas on both engines (positive operands → % == pmod). */
  private def eventPoints(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "events").select(
      col("event_id"),
      (pmod(col("event_id") * 2654435761L, lit(1800000001L)) - 900000000L).as("lat7"),
      (pmod(col("event_id") * 2971215073L, lit(3600000001L)) - 1800000000L).as("lon7"))

  private val eventPointsSql =
    """SELECT event_id,
      |  (event_id * 2654435761) % 1800000001 - 900000000 AS lat7,
      |  (event_id * 2971215073) % 3600000001 - 1800000000 AS lon7
      |FROM events""".stripMargin

  /** Nation-derived centroids, same trick. */
  private def nationCentres(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "nation").select(
      col("n_nationkey").cast("long").as("relation_id"),
      (pmod(col("n_nationkey").cast("long") * 1073676287L, lit(1800000001L)) - 900000000L).as("c_lat7"),
      (pmod(col("n_nationkey").cast("long") * 2971215073L, lit(3600000001L)) - 1800000000L).as("c_lon7"))

  private val nationCentresSql =
    """SELECT CAST(n_nationkey AS BIGINT) AS relation_id,
      |  (CAST(n_nationkey AS BIGINT) * 1073676287) % 1800000001 - 900000000 AS c_lat7,
      |  (CAST(n_nationkey AS BIGINT) * 2971215073) % 3600000001 - 1800000000 AS c_lon7
      |FROM nation""".stripMargin

  /** One-pass Visvalingam filter kernel (q_simplify + GeoSimplifySpec):
    * keep endpoints and every interior vertex whose deviation triangle
    * against its ORIGINAL neighbours has |2·area| ≥ eps. Input columns
    * (line_id, seq, x, y); pure integer cross products over lag/lead
    * windows — one shuffle on line_id. */
  private[queries] def vwFilter(pts: DataFrame, eps: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("line_id").orderBy("seq")
    pts
      .withColumn("area2", abs(
        (col("x") - lag("x", 1).over(w)) *
          (lead("y", 1).over(w) - lag("y", 1).over(w)) -
          (col("y") - lag("y", 1).over(w)) *
          (lead("x", 1).over(w) - lag("x", 1).over(w))))
      .filter(col("area2").isNull || col("area2") >= eps)
      .select("line_id", "seq", "x", "y")
  }

  /** Full iterative Visvalingam: re-run the one-pass filter — each pass
    * recomputing deviation triangles against the SURVIVORS' new
    * neighbours — until no vertex drops (a fixed point; vwFilter is
    * then idempotent on the result). The driver loop carries only a
    * per-pass row count; each pass stays one window shuffle on line_id,
    * and convergence is a handful of passes (every pass must drop ≥1
    * vertex to continue, and batch passes drop large fractions). */
  private[queries] def vwFixedPoint(pts: DataFrame, eps: Long): DataFrame = {
    var cur = pts.localCheckpoint()
    var n = cur.count()
    var done = false
    while (!done) {
      val next = vwFilter(cur, eps).localCheckpoint()
      val m = next.count()
      if (m == n) done = true else { cur = next; n = m }
    }
    cur
  }

  /** Sampled line→cell cover kernel (q_line_cover + GeoSimplifySpec):
    * 2·(|dx|+|dy|)+1 integer-interpolated samples per segment (< ½ unit
    * per step; cell = 4 units; +1000 offset keeps numerators positive
    * so DIV floors identically on both engines), DISTINCT per segment.
    * Input columns (event_id, x0, y0, x1, y1), coords in [-250·4,
    * 250·4). */
  private[queries] def lineCover(segs: DataFrame): DataFrame =
    segs
      .withColumn("n", lit(2L) * (abs(col("x1") - col("x0")) +
        abs(col("y1") - col("y0"))) + 1L)
      .withColumn("i", explode(expr("sequence(0, n)")))
      .select(col("event_id"),
        expr("((x0 + 1000) * n + (x1 - x0) * i) DIV (4 * n) - 250").as("cx"),
        expr("((y0 + 1000) * n + (y1 - y0) * i) DIV (4 * n) - 250").as("cy"))
      .distinct()

  private lazy val adminAreasCached =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[AdminAreas.AdminArea]]()

  private def areas(s: SparkSession) = {
    val cached = adminAreasCached.computeIfAbsent("niue", _ =>
      AdminAreas.build(s, PbfRead.read(s, fixture)).collect().toSeq)
    import s.implicits._
    s.createDataset(cached)
  }

  /** The polygon-side prep (cover + centres) is a property of the admin
    * dataset — build once per session, reuse across page batches
    * (exactly the intended production shape: q_page_join/knn/tiles each
    * rebuilt it in round 1). Session-keyed: Prepared holds
    * localCheckpointed Datasets whose blocks die with the SparkContext
    * (unlike adminAreasCached, which stores plain collected rows). */
  private lazy val preparedCached =
    new graft.util.SessionCache[SpatialJoin.Prepared]

  private[queries] def prepared(s: SparkSession): SpatialJoin.Prepared =
    preparedCached.get(s)(SpatialJoin.prepare(s, areas(s), SpatialJoin.Params()))

  /** The nation-centre kNN index, staged once per (session, dir,
    * `nation.parquet` modification time) — a 25-row dimension-table
    * input both kNN gates consume; the kNN operator under test still
    * runs per gate (the same fixture-staging pattern as [[prepared]] /
    * the OSM fixture). The index pins checkpointed centre rows, their
    * driver-side collect and, above the dense bound, a broadcast tree,
    * so the key carries the table's mtime: a table rewritten in place
    * within a session restages instead of serving stale centres. */
  private lazy val nationIdxCached = new graft.util.SessionCache[
    scala.collection.concurrent.TrieMap[(String, Long), SpatialJoin.CentreIndex]]

  private def nationIdx(s: SparkSession, d: String): SpatialJoin.CentreIndex = {
    val table = new org.apache.hadoop.fs.Path(s"$d/nation.parquet")
    val mtime = table.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(table).getModificationTime
    nationIdxCached.get(s)(scala.collection.concurrent.TrieMap.empty)
      .getOrElseUpdate((d, mtime), SpatialJoin.CentreIndex.of(nationCentres(s, d)))
  }

  /** Exact BigInt shoelace (2A) summed over a multipolygon's rings,
    * rendered as a decimal string (outer CCW ⇒ +, holes CW ⇒ −) —
    * exact at any magnitude (DECIMAL/HUGEINT render differently across
    * engines, strings don't). */
  private def ringsArea2Str(rings: Seq[Seq[Long]]): String =
    rings.map { r =>
      val n = r.length / 2
      var acc = BigInt(0)
      var ax = BigInt(r(2 * (n - 1))); var ay = BigInt(r(2 * (n - 1) + 1))
      for (i <- 0 until n) {
        val bx = BigInt(r(2 * i)); val by = BigInt(r(2 * i + 1))
        acc += ax * by - ay * bx
        ax = bx; ay = by
      }
      acc
    }.sum.toString

  /** Deterministic 3-op replication batch against the Niue fixture:
    * move the first node of relation 1558543's smallest member way by
    * +1000 lat7 (geometry), delete relation 1558544, rename 1558545 —
    * one exemplar of every diff class incrementalUpdate handles. */
  private def incrementalDiffs(s: SparkSession,
      snap: org.apache.spark.sql.Dataset[graft.model.OsmEntity])
      : org.apache.spark.sql.Dataset[graft.model.OsmEntity] = {
    import s.implicits._
    import graft.model.{OsmEntity, OsmKind}
    val rel = snap.filter(e => e.kind == OsmKind.Relation && e.id == 1558543L).head()
    val wayId = rel.members.filter(_.mtype == OsmKind.Way).map(_.ref).min
    val way = snap.filter(e => e.kind == OsmKind.Way && e.id == wayId).head()
    val node = snap.filter(e => e.kind == OsmKind.Node && e.id == way.refs.head).head()
    val renamed = snap.filter(e => e.kind == OsmKind.Relation && e.id == 1558545L).head()
    Seq(
      node.copy(version = node.version + 1, lat7 = node.lat7.map(_ + 1000L),
        tsMillis = node.tsMillis + 1000),
      OsmEntity(OsmKind.Relation, 1558544L, 99, visible = false, None, None,
        0L, 1L, 1, "u", Nil, Nil, Nil),
      renamed.copy(version = renamed.version + 1,
        tags = renamed.tags.map(t =>
          if (t.k == "name") t.copy(v = "Vaiea Renamed") else t))
    ).toDS()
  }

  val defs: Seq[QueryDef] = Seq(

    // J4/§2-I: hierarchical cell encode — pure-integer oracle
    QueryDef(
      "q_cell_encode",
      (s, d) =>
        eventPoints(s, d)
          .select(col("event_id"),
            G.cell_encode(col("lat7"), col("lon7"), lit(12)).as("cell"))
          .orderBy("event_id"),
      Some(s"""SELECT event_id,
              |  3458764513820540928 +
              |  least(((lat7 + 900000000) * 4096) // 1800000000, 4095) * 4096 +
              |  least(((lon7 + 1800000000) * 4096) // 3600000000, 4095) AS cell
              |FROM ($eventPointsSql)
              |ORDER BY event_id""".stripMargin)),

    // cell hierarchy: ancestor = arithmetic right-shift of x/y
    QueryDef(
      "q_cell_ancestor",
      (s, d) =>
        eventPoints(s, d)
          .select(col("event_id"),
            G.cell_ancestor(
              G.cell_encode(col("lat7"), col("lon7"), lit(12)), lit(5)).as("anc"))
          .orderBy("event_id"),
      Some(s"""SELECT event_id,
              |  1441151880758558720 +
              |  ((least(((lat7 + 900000000) * 4096) // 1800000000, 4095) // 128) * 32) +
              |  (least(((lon7 + 1800000000) * 4096) // 3600000000, 4095) // 128) AS anc
              |FROM ($eventPointsSql)
              |ORDER BY event_id""".stripMargin)),

    // multi-resolution cell pyramid: aggregate ONCE at the finest
    // level, then roll the pyramid up from the aggregated counts (11
    // tiny shuffles over tile counts — never re-touching the point
    // table, the shape a z0..z10 tile-serving rollup needs at 10^12
    // points). Pure integer cell math → full DuckDB value check
    // (Mercator tiles use libm doubles, so THEIR gate stays a frozen
    // digest; the rollup semantics are identical).
    QueryDef(
      "q_cell_pyramid",
      (s, d) => {
        val base = eventPoints(s, d)
          .select(G.cell_encode(col("lat7"), col("lon7"), lit(10)).as("c"))
          .groupBy("c").agg(count(lit(1)).as("n"))
        base.select(col("c"), col("n"),
            explode(sequence(lit(0), lit(10))).as("z"))
          .groupBy(G.cell_ancestor(col("c"), col("z")).as("cell"))
          .agg(sum(col("n")).as("n_points"))
          .select(shiftrightunsigned(col("cell"), 58).cast("int").as("z"),
            col("cell"), col("n_points"))
          .orderBy("cell")
      },
      Some(s"""WITH p AS ($eventPointsSql),
              |b AS (SELECT
              |    least(((lat7 + 900000000) * 1024) // 1800000000, 1023) AS y10,
              |    least(((lon7 + 1800000000) * 1024) // 3600000000, 1023) AS x10
              |  FROM p),
              |a AS (SELECT y10, x10, count(*) AS n FROM b GROUP BY 1, 2),
              |lv AS (SELECT unnest(range(0, 11)) AS z)
              |SELECT CAST(z AS INTEGER) AS z,
              |  (CAST(z AS BIGINT) << 58) + ((y10 >> (10 - z)) << z)
              |    + (x10 >> (10 - z)) AS cell,
              |  CAST(sum(n) AS BIGINT) AS n_points
              |FROM a, lv
              |GROUP BY 1, 2 ORDER BY cell""".stripMargin)),

    // raster→vector (north rule "raster↔vector"): polygonize the
    // ≥2-point cells of the event raster at level 7 into boundary
    // rings. The oracle recomputes regions relationally (recursive-CTE
    // 4-adjacency closure), perimeter as Σ(4 − neighbours), and states
    // area2 = 2·n_cells — which Spark derives FROM THE ASSEMBLED RINGS
    // (signed shoelace), so ring geometry is value-checked through the
    // relational oracle; ring-level semantics are pinned in
    // VectorizeSpec (winding, holes, pinches, JTS validity).
    QueryDef(
      "q_vectorize",
      (s, d) => {
        // density-adaptive threshold: the smallest per-cell count whose
        // tail keeps at most 45% of the 128×128 grid occupied — always
        // SUBCRITICAL for site percolation (≈0.59 on the square
        // lattice), so regions stay small and the propagation diameter
        // bounded at ANY SF, while sparse rasters keep every occupied
        // cell (the rule a production rasterizer applies before
        // polygonizing). Derived from a tiny count histogram, mirrored
        // exactly by the oracle's window over the same histogram.
        val perCell = eventPoints(s, d)
          .select(G.cell_encode(col("lat7"), col("lon7"), lit(7)).as("cell"))
          .groupBy("cell").agg(count(lit(1)).as("n"))
          .localCheckpoint()
        val hist = perCell.groupBy("n").count().collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
        val limit = 7372L // 0.45 * 16384
        var geq = 0L
        var thresh = hist.map(_._1).max + 1
        for ((cnt, k) <- hist) {
          geq += k
          if (geq <= limit) thresh = cnt
        }
        val cells = perCell.filter(col("n") >= thresh).select("cell")
        graft.geo.Vectorize.vectorize(s, cells, 7)
          .select("region_id", "n_cells", "perimeter", "area2",
            "min_x", "min_y", "max_x", "max_y")
          .orderBy("region_id")
      },
      Some(s"""WITH RECURSIVE p AS ($eventPointsSql),
              |b AS (SELECT
              |    least(((lat7 + 900000000) * 128) // 1800000000, 127) AS y,
              |    least(((lon7 + 1800000000) * 128) // 3600000000, 127) AS x
              |  FROM p),
              |pc AS (SELECT x, y, count(*) AS cnt FROM b GROUP BY x, y),
              |thr AS (SELECT min(cnt) AS t FROM (
              |  SELECT cnt, sum(k) OVER (ORDER BY cnt DESC) AS geq
              |  FROM (SELECT cnt, count(*) AS k FROM pc GROUP BY cnt))
              |  WHERE geq <= 7372),
              |cl AS (SELECT x, y FROM pc WHERE cnt >= (SELECT t FROM thr)),
              |e AS (SELECT a.x AS ax, a.y AS ay, c.x AS bx, c.y AS by
              |  FROM cl a JOIN cl c ON abs(a.x - c.x) + abs(a.y - c.y) = 1),
              |rc AS (SELECT x, y, x AS rx, y AS ry FROM cl
              |  UNION SELECT rc.x, rc.y, e.bx, e.by
              |  FROM rc JOIN e ON rc.rx = e.ax AND rc.ry = e.ay),
              |comp AS (SELECT x, y,
              |    min((CAST(7 AS BIGINT) << 58) + (CAST(ry AS BIGINT) << 7)
              |      + CAST(rx AS BIGINT)) AS region_id
              |  FROM rc GROUP BY x, y),
              |nb AS (SELECT ax AS x, ay AS y, count(*) AS nn FROM e GROUP BY 1, 2)
              |SELECT c.region_id,
              |  count(*) AS n_cells,
              |  CAST(sum(4 - coalesce(nb.nn, 0)) AS BIGINT) AS perimeter,
              |  CAST(2 * count(*) AS BIGINT) AS area2,
              |  CAST(min(c.x) AS BIGINT) AS min_x, CAST(min(c.y) AS BIGINT) AS min_y,
              |  CAST(max(c.x) AS BIGINT) AS max_x, CAST(max(c.y) AS BIGINT) AS max_y
              |FROM comp c LEFT JOIN nb ON nb.x = c.x AND nb.y = c.y
              |GROUP BY c.region_id ORDER BY c.region_id""".stripMargin)),

    // J5 skeleton: PIP against a rectangle ≡ BETWEEN (boundary=inside)
    QueryDef(
      "q_pip_rect",
      (s, d) => {
        val rect = Seq(Seq(-1000000000L, -200000000L, 500000000L, -200000000L,
          500000000L, 700000000L, -1000000000L, 700000000L))
        eventPoints(s, d)
          .filter(G.point_in_rings(col("lon7"), col("lat7"), typedLit(rect)))
          .select("event_id").orderBy("event_id")
      },
      Some(s"""SELECT event_id FROM ($eventPointsSql)
              |WHERE lon7 BETWEEN -1000000000 AND 500000000
              |  AND lat7 BETWEEN -200000000 AND 700000000
              |ORDER BY event_id""".stripMargin)),

    // J6: nearest centre per point vs brute-force argmin in SQL
    QueryDef(
      "q_knn_centres",
      (s, d) => {
        val pts = eventPoints(s, d)
          .select(col("event_id").cast("string").as("url"), col("lat7"), col("lon7"))
        SpatialJoin.knnCentres(s, pts, nationIdx(s, d), SpatialJoin.Params())
          .select(col("url").cast("long").as("event_id"), col("nn_relation_id"))
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, relation_id AS nn_relation_id FROM (
              |  SELECT e.event_id, c.relation_id,
              |    row_number() OVER (PARTITION BY e.event_id ORDER BY
              |      (e.lat7 - c.c_lat7) * (e.lat7 - c.c_lat7) +
              |      least(abs(e.lon7 - c.c_lon7), 3600000000 - abs(e.lon7 - c.c_lon7)) *
              |      least(abs(e.lon7 - c.c_lon7), 3600000000 - abs(e.lon7 - c.c_lon7)),
              |      c.relation_id) AS rk
              |  FROM ($eventPointsSql) e CROSS JOIN ($nationCentresSql) c
              |) WHERE rk = 1 ORDER BY event_id""".stripMargin)),

    // J6 at k>1: rank ≤ 3 nearest centres per point vs the brute-force
    // top-3 window in SQL. Ties rank by (d2, relation_id) in both
    // engines.
    QueryDef(
      "q_knn_centres_k",
      (s, d) => {
        val pts = eventPoints(s, d)
          .select(col("event_id").cast("string").as("url"), col("lat7"), col("lon7"))
        SpatialJoin.knnCentresK(s, pts, nationIdx(s, d), SpatialJoin.Params(), k = 3)
          .select(col("url").cast("long").as("event_id"),
            col("rank").cast("long").as("rank"), col("nn_relation_id"))
          .orderBy("event_id", "rank")
      },
      Some(s"""SELECT event_id, rk AS rank, relation_id AS nn_relation_id FROM (
              |  SELECT e.event_id, c.relation_id,
              |    row_number() OVER (PARTITION BY e.event_id ORDER BY
              |      (e.lat7 - c.c_lat7) * (e.lat7 - c.c_lat7) +
              |      least(abs(e.lon7 - c.c_lon7), 3600000000 - abs(e.lon7 - c.c_lon7)) *
              |      least(abs(e.lon7 - c.c_lon7), 3600000000 - abs(e.lon7 - c.c_lon7)),
              |      c.relation_id) AS rk
              |  FROM ($eventPointsSql) e CROSS JOIN ($nationCentresSql) c
              |) WHERE rk <= 3 ORDER BY event_id, rank""".stripMargin)),

    // J1-J3 golden: the 14 fixture admin areas as a VALUES oracle
    QueryDef(
      "q_admin_areas",
      (s, _) =>
        areas(s).toDF()
          .select(col("relationId").as("relation_id"), col("adminLevel").as("admin_level"),
            col("name"), size(col("rings")).as("n_rings"),
            col("complete").cast("int").as("complete"))
          .orderBy("relation_id"),
      Some("""SELECT CAST(relation_id AS BIGINT) AS relation_id,
             |  CAST(admin_level AS INTEGER) AS admin_level, name,
             |  CAST(n_rings AS INTEGER) AS n_rings,
             |  CAST(complete AS INTEGER) AS complete
             |FROM (VALUES
             | (1558543, 8, 'Hakupu', 1, 1), (1558544, 8, 'Mutalau', 1, 1),
             | (1558545, 8, 'Vaiea', 1, 1), (1558546, 8, 'Hikutavake', 1, 1),
             | (1558547, 8, 'Makefu', 1, 1), (1558548, 8, 'Tuapa', 1, 1),
             | (1558549, 8, 'Alofi', 1, 1), (1558550, 8, 'Tamakautoga', 1, 1),
             | (1558551, 8, 'Avatele', 1, 1), (1558552, 8, 'Namukulu', 1, 1),
             | (1558553, 8, 'Liku', 1, 1), (1558554, 8, 'Toi', 1, 1),
             | (1558555, 8, 'Lakepa', 1, 1), (1558556, 2, 'Niuē', 1, 1)
             |) AS t(relation_id, admin_level, name, n_rings, complete)
             |ORDER BY relation_id""".stripMargin)),

    // exact multipolygon area: signed integer shoelace (2A) per ring,
    // BigInt-exact (outer CCW ⇒ +, holes CW ⇒ −), summed per relation.
    // Emitted as a decimal STRING so the value is exact at any
    // magnitude (DECIMAL/HUGEINT render differently across engines).
    QueryDef(
      "q_admin_area2",
      (s, _) => {
        import s.implicits._
        areas(s).map(a => (a.relationId, a.adminLevel, ringsArea2Str(a.rings)))
          .toDF("relation_id", "admin_level", "area2")
          .orderBy("relation_id")
      },
      Some(GeoGolden.adminArea2Sql)),

    // J+ incremental admin maintenance (VERDICT r5 ask #2): apply a
    // deterministic 3-op diff batch — boundary-node move, relation
    // delete, tag-only rename — to the fixture snapshot through
    // incrementalUpdate and pin the MERGED area set (name, ring count,
    // completeness, exact shoelace area) as a VALUES golden generated
    // from the FULL REBUILD on the new snapshot (AdminAreasSpec proves
    // incremental ≡ full; this row freezes that equivalence in the
    // driver gate, exact areas included, so a drifting stitch or merge
    // cannot hide behind the spec).
    QueryDef(
      "q_admin_incremental",
      (s, _) => {
        import s.implicits._
        // the diff-apply + restricted rebuild executes eagerly in here
        // (checkpointed frames) over a 45k-row fixture — scope the
        // shuffle sizing down to match
        // shares the session-staged latest-visible snapshot with
        // q_extract (one 3-kind resolution per session, not per gate)
        val r = graft.util.Scoped.shufflePartitions(s, 8) {
          val snap = OsmQueries.osmFixtureLV(s)
          AdminAreas.incrementalUpdate(
            s, snap, areas(s), incrementalDiffs(s, snap))
        }
        r.areas.map(a => (a.relationId, a.adminLevel, a.name, a.rings.size,
            if (a.complete) 1 else 0, ringsArea2Str(a.rings)))
          .toDF("relation_id", "admin_level", "name", "n_rings",
            "complete", "area2")
          .orderBy("relation_id")
      },
      Some(GeoGolden.adminIncrementalSql)),

    // Regional extract (reference roadmap v0.3) pinned in the driver
    // gate: extract the Alofi polygon region from the fixture and
    // digest the referentially-complete element set per kind — count +
    // xor-folded xxhash64 over (kind, id, version). A change in the
    // seed PIP, way completion closure, relation clip, or parent sweep
    // changes a row; ExtractSpec pins the row-level semantics.
    QueryDef(
      "q_extract",
      (s, _) => {
        // the closure executes eagerly in here (checkpointed id frames)
        // over a 45k-row fixture — scope the shuffle sizing to match;
        // the polygon comes from the session's assembled admin set
        // (Extract.byArea — the persisted-admin-stage reuse path; the
        // self-contained byRelation form is ExtractSpec/CLI-covered)
        // input is the session-staged latest-visible snapshot, shared
        // with q_admin_incremental (latestVisible is idempotent)
        val ex = graft.util.Scoped.shufflePartitions(s, 8) {
          import s.implicits._
          graft.jobs.Extract.byArea(s, OsmQueries.osmFixtureLV(s),
              areas(s).filter(_.relationId == 1558549L))
            .localCheckpoint()
        }
        ex.toDF()
          .groupBy(col("kind").cast("int").as("kind"))
          .agg(count(lit(1)).as("n"),
            expr("bit_xor(xxhash64(CAST(kind AS INT), id, version))").as("h"))
          .orderBy("kind")
      },
      Some(GeoGolden.extractSql)),

    // J5-J7 end-to-end. The gated outputs are order-invariant DIGESTS
    // (per-group counts + xor-folded xxhash64 of every row) frozen as
    // VALUES goldens — the same scheme that froze the 14-relation admin
    // set. The row-level semantics behind the digests are independently
    // proven by Scala oracles (SpatialJoinSpec: per-url PIP oracle,
    // brute-force kNN oracle, tile recount; GeoExpressionsSpec:
    // geoparse). A digest mismatch catches ANY row change.
    QueryDef(
      "q_page_join",
      (s, _) => {
        val out = SpatialJoin.run(s, Pages.generate(s, 20000), prepared(s), SpatialJoin.Params())
        out.joined.groupBy("relation_id")
          .agg(count(lit(1)).as("n_pages"),
            expr("bit_xor(xxhash64(url, lat7, lon7))").as("h"))
          .orderBy("relation_id")
      },
      Some(GeoGolden.pageJoinSql)),
    QueryDef(
      "q_page_knn",
      (s, _) => {
        val out = SpatialJoin.run(s, Pages.generate(s, 20000), prepared(s), SpatialJoin.Params())
        out.knn.groupBy("nn_relation_id")
          .agg(count(lit(1)).as("n_pages"),
            expr("bit_xor(xxhash64(url))").as("h"))
          .orderBy("nn_relation_id")
      },
      Some(GeoGolden.pageKnnSql)),
    QueryDef(
      "q_page_tiles",
      (s, _) => {
        val out = SpatialJoin.run(s, Pages.generate(s, 20000), prepared(s), SpatialJoin.Params())
        out.tileCounts.orderBy("z", "x", "y", "relation_id")
      },
      Some(GeoGolden.pageTilesSql)),

    // geoparse invariant surface: extractable coordinates round-trip and
    // the text value is the untouched input; gated as a whole-result
    // digest (geoparse row semantics are pinned in GeoExpressionsSpec)
    QueryDef(
      "q_geoparse",
      (s, _) => {
        val pages = Pages.generate(s, 20000)
        pages.select(col("url"), col("text"),
            G.geoparse_packed(col("text")).as("p"))
          .select(col("url"),
            G.packed_lat7(col("p")).as("lat7"), G.packed_lon7(col("p")).as("lon7"))
          .filter(col("lat7").isNotNull)
          .agg(count(lit(1)).as("n"),
            expr("bit_xor(xxhash64(url, lat7, lon7))").as("h"),
            sum(col("lat7")).as("sum_lat7"), sum(col("lon7")).as("sum_lon7"))
      },
      Some(GeoGolden.geoparseSql)),

    // POLYLINE SIMPLIFICATION (one-pass Visvalingam filter): drop every
    // interior vertex whose deviation triangle — formed with its
    // ORIGINAL neighbours — has |2·area| below threshold. Endpoints
    // always survive. Pure integer cross products over lag/lead
    // windows: one shuffle on line_id, exact on both engines, and
    // embarrassingly parallel at a planet's worth of way geometry
    // (the iterative full-Visvalingam refinement runs this same kernel
    // to a fixed point; the one-pass form is the bulk-reduction stage).
    // Deterministic synthetic polylines from the nation table: 240
    // vertices, x = 1000·i, pseudo-random y in ±1000.
    QueryDef(
      "q_simplify",
      (s, d) => {
        vwFilter(Tables.t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("line_id"))
          .withColumn("seq", explode(expr("sequence(0, 239)")))
          .select(col("line_id"), col("seq"),
            (col("seq") * 1000L).as("x"),
            (pmod(col("line_id") * 7919L + col("seq") * 104729L,
              lit(2001L)) - 1000L).as("y")), eps = 900000L)
          .orderBy("line_id", "seq")
      },
      Some("""WITH v AS (SELECT CAST(n_nationkey AS BIGINT) AS line_id,
             |    seq, seq * 1000 AS x,
             |    (CAST(n_nationkey AS BIGINT) * 7919 + seq * 104729)
             |      % 2001 - 1000 AS y
             |  FROM nation, (SELECT unnest(range(0, 240)) AS seq)),
             |a AS (SELECT line_id, seq, x, y, abs(
             |    (x - lag(x) OVER w) * (lead(y) OVER w - lag(y) OVER w) -
             |    (y - lag(y) OVER w) * (lead(x) OVER w - lag(x) OVER w))
             |      AS area2
             |  FROM v WINDOW w AS (PARTITION BY line_id ORDER BY seq))
             |SELECT line_id, seq, x, y FROM a
             |WHERE area2 IS NULL OR area2 >= 900000
             |ORDER BY line_id, seq""".stripMargin)),

    // ITERATIVE Visvalingam to a FIXED POINT: the same kernel re-run
    // until no vertex drops — pass 2+ recompute each survivor's
    // deviation triangle against its NEW neighbours, so vertices that
    // hid behind since-dropped neighbours fall in later passes (the
    // one-pass q_simplify form is the bulk-reduction stage; this is the
    // full simplification). The shelf-notch fixture makes pass 2
    // GENUINELY fire: period-10 shelves at height k·1000 (k=line_id%3+1)
    // flanking a baseline notch. Shelf/ramp vertices have |2A| = u·h·k
    // (=1.5e6/k·…), the notch 2·u·h·k. At eps=1.5e6, k=1 lines drop
    // every shelf in pass 1 (1e6 < eps) but KEEP the notches (2e6);
    // pass 2 then finds the notches collinear with the baseline
    // survivors and drops them too — a drop that only exists because
    // the neighbours changed. k≥2 lines converge in one pass, so the
    // result mixes trivial and multi-pass lines. Spark loops to the
    // data-dependent fixed point; the oracle replays a fixed 12-pass
    // CTE chain — passes beyond convergence are identities, so the
    // replay is exact for any convergence depth ≤ 12 (fixture: 3).
    QueryDef(
      "q_simplify_fixed",
      (s, d) => {
        vwFixedPoint(Tables.t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("line_id"))
          .withColumn("seq", explode(expr("sequence(0, 239)")))
          .select(col("line_id"), col("seq"),
            (col("seq") * 1000L).as("x"),
            when(pmod(col("seq"), lit(10)).isin(3, 4, 6, 7),
              (col("line_id") % 3 + 1) * 1000L)
              .otherwise(lit(0L)).as("y")), eps = 1500000L)
          .orderBy("line_id", "seq")
      },
      Some {
        val passes = (1 to 12).map { k =>
          val src = if (k == 1) "v" else s"p${k - 1}"
          s"""p$k AS (SELECT line_id, seq, x, y FROM (
             |  SELECT line_id, seq, x, y, abs(
             |    (x - lag(x) OVER w) * (lead(y) OVER w - lag(y) OVER w) -
             |    (y - lag(y) OVER w) * (lead(x) OVER w - lag(x) OVER w))
             |      AS area2
             |  FROM $src WINDOW w AS (PARTITION BY line_id ORDER BY seq))
             |WHERE area2 IS NULL OR area2 >= 1500000)""".stripMargin
        }.mkString(",\n")
        s"""WITH v AS (SELECT CAST(n_nationkey AS BIGINT) AS line_id,
           |    seq, seq * 1000 AS x,
           |    CASE WHEN seq % 10 IN (3, 4, 6, 7)
           |      THEN (CAST(n_nationkey AS BIGINT) % 3 + 1) * 1000
           |      ELSE 0 END AS y
           |  FROM nation, (SELECT unnest(range(0, 240)) AS seq)),
           |$passes
           |SELECT line_id, seq, x, y FROM p12
           |ORDER BY line_id, seq""".stripMargin
      }),

    // LINE RASTERIZATION (segment → cell cover): the way-geometry
    // counterpart of the polygon cell cover — the cells along each
    // segment, via dense parametric sampling at < ½ coordinate unit per
    // step (2·(|dx|+|dy|)+1 samples; a cell is 4 units, so there are no
    // gaps along the line — corner-grazed cells follow sampling
    // semantics, identically on both engines; integer interpolation
    // with a +1000 offset keeps every numerator positive so DIV floors
    // the same everywhere) then DISTINCT per segment. Explode +
    // hash-distinct: linear in cover size, no joins, no driver geometry.
    QueryDef(
      "q_line_cover",
      (s, d) => {
        val segs = Tables.t(s, d, "events")
          .filter(pmod(col("event_id"), lit(37)) === 0)
          .select(col("event_id"),
            pmod(col("event_id") * 31L, lit(97L)).as("x0"),
            pmod(col("event_id") * 57L, lit(89L)).as("y0"))
          .withColumn("x1", col("x0") + pmod(col("event_id") * 13L, lit(23L)) - 11L)
          .withColumn("y1", col("y0") + pmod(col("event_id") * 7L, lit(19L)) - 9L)
        lineCover(segs).orderBy("event_id", "cx", "cy")
      },
      Some("""WITH s AS (SELECT event_id,
             |    (event_id * 31) % 97 AS x0, (event_id * 57) % 89 AS y0
             |  FROM events WHERE event_id % 37 = 0),
             |e AS (SELECT event_id, x0, y0,
             |    x0 + (event_id * 13) % 23 - 11 AS x1,
             |    y0 + (event_id * 7) % 19 - 9 AS y1 FROM s),
             |seg AS (SELECT *, 2 * (abs(x1 - x0) + abs(y1 - y0)) + 1 AS n
             |  FROM e),
             |samp AS (SELECT event_id, x0, y0, x1, y1, n,
             |    unnest(range(0, n + 1)) AS i FROM seg),
             |pts AS (SELECT event_id,
             |    ((x0 + 1000) * n + (x1 - x0) * i) // (4 * n) - 250 AS cx,
             |    ((y0 + 1000) * n + (y1 - y0) * i) // (4 * n) - 250 AS cy
             |  FROM samp)
             |SELECT DISTINCT event_id, cx, cy FROM pts
             |ORDER BY event_id, cx, cy""".stripMargin))
  )
}
