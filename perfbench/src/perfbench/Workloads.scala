package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{GeoFunctions => G}
import graft.jobs.{AdminAreas, SpatialJoin}
import graft.model.OsmEntity
import graft.norm.Normalize
import graft.pbf.{PbfRead, PbfWrite}
import graft.streaming.Replication
import graft.synth.Pages

/** One untraced pass: `op_s` is the timed operation, `parts` its named
  * sub-timings, `failure` the reason the output check failed. */
final case class Pass(opS: Double, parts: Map[String, Double], failure: Option[String])

/** A benchmark workload: set-up builds the inputs from the world, a pass
  * is one operation with its output check, and a traced pass makes the
  * same calls inside [[Tracer]] spans. */
trait Workload {
  def name: String
  /** The workload's named throughputs, from the untraced medians. */
  def rates(untraced: Map[String, Double]): Map[String, Double]
  /** Build every input under `dir`. Called several times (set-up time is
    * a median); the last call's inputs are the ones the passes use. */
  def setup(dir: Path): Unit
  def pass(): Pass
  def tracedPass(tr: Tracer): Unit
  /** Span names in pass order. Spans of one ladder are cumulative
    * prefixes of one fused pipeline, so a layer's cost is its marginal
    * over the previous rung; a ladder of one is a plain span. */
  def ladders: Seq[Seq[String]]
  /** Ratio and tracing-overhead metrics from the traced spans, given the
    * untraced medians of `pass_s` and of the pass's named parts. A
    * pipeline's overhead is its traced last rungs minus its untraced part. */
  def derived(tr: Tracer, untraced: Map[String, Double]): Map[String, Double]
}

object Workloads {
  /** Sizes per workload; see perfbench/README.md for how they were chosen. */
  val RoundtripWorld = WorldSize(grid = 16, roads = 2000, pois = 10000)
  val PageWorld = WorldSize(grid = 33, roads = 500, pois = 2000)
  val AdminWorld = WorldSize(grid = 12, roads = 500, pois = 2000)
  val TilePages = 1000000L
  val KnnPages = 2000L
  val OracleSample = 2000
  val Params = SpatialJoin.Params()

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "osm" => new Combined("osm",
      Seq(new OsmRoundtrip(spark, seed), new AdminUpdate(spark, seed)))
    case "pages" => new PageJoin(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val names = Seq("osm", "pages")

  /** Every ratio and tracing-overhead metric the workloads derive. */
  val derivedNames = Seq(
    "page_tiles.jobs.cover_probe.candidates_per_point",
    "page_tiles.expr.refine.hit_ratio",
    "page_tiles.spark.parquet_scan.floor_share",
    "page_knn.jobs.knn.pairs_per_point",
    "admin_update.jobs.touched.touched_share",
    "osm_roundtrip.tracing_overhead",
    "page_tiles.tracing_overhead",
    "page_knn.tracing_overhead",
    "admin_update.tracing_overhead")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run a set-up step and log its duration to the run's log (stderr). */
  def step[T](what: String)(body: => T): T = {
    val (r, s) = seconds(body)
    System.err.println(f"perfbench: $what%s took $s%.3f s")
    r
  }

  def writeWorld(world: World, dir: Path): String = {
    Files.createDirectories(dir)
    val p = dir.resolve("world.osm.pbf")
    world.writePbf(p)
    p.toString
  }

  /** Exact multiset difference: rows whose count differs between the two
    * frames (0 ⇔ equal as multisets). No hashing stands in for a value. */
  def rowDiff(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.toSeq.map(col)
    a.withColumn("_side", lit(0)).unionByName(b.withColumn("_side", lit(1)))
      .groupBy(cols: _*)
      .agg(sum(when(col("_side") === 0, 1L).otherwise(0L)).as("_na"),
        sum(when(col("_side") === 1, 1L).otherwise(0L)).as("_nb"))
      .filter(col("_na") =!= col("_nb"))
      .count()
  }
}

import Workloads._

/** Several pipelines run as one workload, each in turn: set-up, pass and
  * traced pass. A pass's operation time is the sum of the parts'. */
final class Combined(val name: String, parts: Seq[Workload]) extends Workload {
  def setup(dir: Path): Unit = parts.foreach(p => p.setup(dir.resolve(p.name)))

  def pass(): Pass = {
    val ps = parts.map(_.pass())
    Pass(ps.map(_.opS).sum, ps.flatMap(_.parts).toMap, ps.flatMap(_.failure).headOption)
  }

  def tracedPass(tr: Tracer): Unit = parts.foreach(_.tracedPass(tr))
  def ladders: Seq[Seq[String]] = parts.flatMap(_.ladders)
  def rates(u: Map[String, Double]): Map[String, Double] = parts.flatMap(_.rates(u)).toMap
  def derived(tr: Tracer, u: Map[String, Double]): Map[String, Double] =
    parts.flatMap(_.derived(tr, u)).toMap
}

/** PBF → 10 apidb tables → PBF: the paper's own import/export job. */
final class OsmRoundtrip(spark: SparkSession, seed: Long) extends Workload {
  val name = "osm_roundtrip"
  private var world: World = _
  private var pbf = ""
  private var tablesDir = ""
  private var exportPath = ""
  def rates(u: Map[String, Double]): Map[String, Double] = Map(
    "import_entities_per_s" -> world.entityCount / u("import_s"),
    "export_entities_per_s" -> world.entityCount / u("export_s"))

  def setup(dir: Path): Unit = {
    world = new World(RoundtripWorld, seed)
    pbf = writeWorld(world, dir)
    tablesDir = dir.resolve("tables").toString
    exportPath = dir.resolve("export.osm.pbf").toString
  }

  private def tables(db: Normalize.ApiDb): Seq[(String, DataFrame)] = Seq(
    "nodes" -> db.nodes, "node_tags" -> db.nodeTags, "ways" -> db.ways,
    "way_tags" -> db.wayTags, "way_nodes" -> db.wayNodes,
    "relations" -> db.relations, "relation_tags" -> db.relationTags,
    "relation_members" -> db.relationMembers, "users" -> db.users,
    "changesets" -> db.changesets)

  private def readTables(): Normalize.ApiDb = {
    def t(n: String) = spark.read.parquet(s"$tablesDir/$n")
    Normalize.ApiDb(t("nodes"), t("node_tags"), t("ways"), t("way_tags"),
      t("way_nodes"), t("relations"), t("relation_tags"), t("relation_members"),
      t("users"), t("changesets"))
  }

  // demux caches its entity frame and hands back no handle to release
  // it; clearing after each import keeps repeated passes from piling up
  // one cached copy of the world per pass (this workload caches nothing
  // else)
  private def importTables(): Unit = {
    for ((n, df) <- tables(Normalize.demux(PbfRead.read(spark, pbf))))
      df.write.mode("overwrite").parquet(s"$tablesDir/$n")
    spark.catalog.clearCache()
  }

  private def exportPbf(): Unit =
    PbfWrite.write(spark, Normalize.reassemble(spark, readTables()), exportPath)

  def pass(): Pass = {
    val (_, importS) = seconds(importTables())
    val (_, exportS) = seconds(exportPbf())
    val rows = world.tableCounts.keys.toSeq.sorted
      .map(n => spark.read.parquet(s"$tablesDir/$n").select(lit(n).as("t")))
      .reduce(_ union _).groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = world.tableCounts.toSeq.sorted.collect {
      case (n, want) if rows.getOrElse(n, 0L) != want => s"$n rows ${rows.getOrElse(n, 0L)} != $want"
    }
    val diff = Normalize.diffCount(PbfRead.read(spark, pbf), PbfRead.read(spark, exportPath))
    val failure =
      if (counts.nonEmpty) Some(counts.mkString("; "))
      else if (diff != 0) Some(s"diffCount(world, export) = $diff")
      else None
    Pass(importS + exportS, Map("import_s" -> importS, "export_s" -> exportS), failure)
  }

  val ladders = Seq(
    Seq("osm_roundtrip.pbf.read", "osm_roundtrip.norm.demux",
      "osm_roundtrip.spark.parquet_write"),
    Seq("osm_roundtrip.norm.reassemble", "osm_roundtrip.pbf.write"))

  def tracedPass(tr: Tracer): Unit = {
    tr.span("osm_roundtrip.pbf.read")(noop(PbfRead.read(spark, pbf).toDF()))
    tr.span("osm_roundtrip.norm.demux") {
      tables(Normalize.demux(PbfRead.read(spark, pbf))).foreach(t => noop(t._2))
      spark.catalog.clearCache()
    }
    tr.span("osm_roundtrip.spark.parquet_write")(importTables())
    tr.span("osm_roundtrip.norm.reassemble")(
      noop(Normalize.reassemble(spark, readTables()).toDF()))
    tr.span("osm_roundtrip.pbf.write")(exportPbf())
  }

  def derived(tr: Tracer, untraced: Map[String, Double]): Map[String, Double] =
    Map("osm_roundtrip.tracing_overhead" -> (ladders.map(l => tr.median(l.last)).sum -
      untraced("import_s") - untraced("export_s")))
}

/** Pages against the prepared admin world, two pipelines per pass: the
  * flagship pages × cover → z/x/y tiles over the large pages table, then
  * pages → nearest admin centre over the small one. The world has more
  * centres than the dense-path bound, so kNN takes the general
  * probe/fallback/gather path. */
final class PageJoin(spark: SparkSession, seed: Long) extends Workload {
  val name = "pages"
  private var world: World = _
  private var prep: SpatialJoin.Prepared = _
  private var areas: Dataset[AdminAreas.AdminArea] = _
  private var tilePagesPath = ""
  private var knnPagesPath = ""
  private var tilePoints = 0L
  private var knnPoints = 0L
  private var sample: DataFrame = _
  private var sampleExpected: Set[(String, Long)] = Set.empty
  private var knnExpected: Map[String, Long] = Map.empty
  private var refChecksum: Option[Long] = None
  private val tracedHits = scala.collection.mutable.ArrayBuffer.empty[Double]
  def rates(u: Map[String, Double]): Map[String, Double] = Map(
    "page_tiles_pages_per_s" -> TilePages / u("tiles_s"),
    "page_knn_pages_per_s" -> KnnPages / u("knn_s"))

  private def read(path: String): DataFrame = spark.read.parquet(path)

  def setup(dir: Path): Unit = {
    if (areas != null) areas.unpersist()
    world = step("world")(new World(PageWorld, seed))
    val pbf = step("pbf")(writeWorld(world, dir))
    val complete = step("admin build") {
      areas = AdminAreas.build(spark, PbfRead.read(spark, pbf)).cache()
      areas.filter(_.complete).count()
    }
    require(complete == world.polygons.length,
      s"assembled $complete complete areas, the world has ${world.polygons.length}")
    prep = step("prepare")(SpatialJoin.prepare(spark, areas, Params))
    require(prep.centreIdx.nCentres > Params.knnDenseMaxCentres,
      s"${prep.centreIdx.nCentres} centres would take the dense kNN path")
    tilePagesPath = dir.resolve("tile_pages").toString
    knnPagesPath = dir.resolve("knn_pages").toString
    step("pages") {
      Pages.generate(spark, TilePages, (seed * 2).toInt).write.mode("overwrite")
        .parquet(tilePagesPath)
      Pages.generate(spark, KnnPages, (seed * 2 + 1).toInt).write.mode("overwrite")
        .parquet(knnPagesPath)
    }
    tilePoints = 0L
    refChecksum = None
    step("oracles") {
      // Pages rows depend on (id, seed) only, so the first rows of the
      // table are exactly a small table of the same seed
      sample = Pages.generate(spark, OracleSample, (seed * 2).toInt).localCheckpoint()
      sampleExpected = SpatialJoin.geoparsedPoints(sample).collect().flatMap { r =>
        world.containing(r.getAs[Long]("lat7"), r.getAs[Long]("lon7"))
          .map(rel => (r.getAs[String]("url"), rel))
      }.toSet
      knnExpected = SpatialJoin.geoparsedPoints(read(knnPagesPath)).collect().map { r =>
        r.getAs[String]("url") ->
          world.nearestCentre(r.getAs[Long]("lat7"), r.getAs[Long]("lon7"))
      }.toMap
      knnPoints = knnExpected.size.toLong
    }
  }

  /** The tiles pipeline with its witness: an xor-fold of per-row hashes
    * (order-independent) and the joined row count (Σ n_pages). */
  private def tiles(): (Long, Long) = {
    val r = SpatialJoin.run(spark, read(tilePagesPath), prep, Params).tileCounts
      .select(xxhash64(col("z"), col("x"), col("y"), col("relation_id"),
        col("n_pages")).as("h"), col("n_pages"))
      .agg(expr("bit_xor(h)"), sum(col("n_pages")))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def knn(): Map[String, Long] =
    SpatialJoin.knnCentres(spark, SpatialJoin.geoparsedPoints(read(knnPagesPath)),
        prep.centreIdx, Params)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  def pass(): Pass = {
    val ((chk, _), tilesS) = seconds(tiles())
    val (nn, knnS) = seconds(knn())
    val got = SpatialJoin.run(spark, sample, prep, Params).joined
      .select("url", "relation_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val wrong = knnExpected.count { case (u, rel) => !nn.get(u).contains(rel) }
    val failure =
      if (refChecksum.exists(_ != chk)) Some(s"tile checksum $chk != ${refChecksum.get}")
      else if (got != sampleExpected)
        Some(s"sample join: ${(got diff sampleExpected).size} extra, " +
          s"${(sampleExpected diff got).size} missing")
      else if (nn.size != knnExpected.size)
        Some(s"${nn.size} kNN rows for ${knnExpected.size} points")
      else if (wrong > 0) Some(s"$wrong points off their brute-force nearest centre")
      else None
    if (refChecksum.isEmpty) refChecksum = Some(chk)
    Pass(tilesS + knnS, Map("tiles_s" -> tilesS, "knn_s" -> knnS), failure)
  }

  val ladders = Seq(
    Seq("page_tiles.spark.parquet_scan", "page_tiles.expr.geoparse",
      "page_tiles.expr.cell_encode", "page_tiles.jobs.cover_probe",
      "page_tiles.expr.refine", "page_tiles.jobs.tiles"),
    Seq("page_knn.spark.parquet_scan", "page_knn.expr.geoparse", "page_knn.jobs.knn"))

  // rungs 3–5 of the tiles ladder restate containmentJoin's plan (encode
  // + ancestor explode, cover probe, localized refine) with the same
  // public kernels; the last rung is the real pipeline, so any plan the
  // restatement misses lands in the tiles marginal
  def tracedPass(tr: Tracer): Unit = {
    def scanAndGeoparse(pipeline: String, path: String): Unit = {
      tr.span(s"$pipeline.spark.parquet_scan")(noop(read(path).select("url", "text")))
      tr.span(s"$pipeline.expr.geoparse")(noop(SpatialJoin.geoparsedPoints(read(path))))
    }
    scanAndGeoparse("page_tiles", tilePagesPath)
    def keyed = SpatialJoin.geoparsedPoints(read(tilePagesPath))
      .withColumn("pcell", G.cell_encode(col("lat7"), col("lon7"), lit(Params.coverMaxLevel)))
      .withColumn("jcell", explode(array(prep.coverInfo.levels.map(l =>
        G.cell_ancestor(col("pcell"), lit(l))): _*)))
    def cand = keyed.join(
      graft.util.Joins.boundedBroadcast(prep.cover.toDF("relation_id", "cell", "full",
        "corner_inside", "fallback", "edges"), prep.coverInfo.nRows,
        Params.coverBroadcastMaxRows),
      col("jcell") === col("cell"))
    tr.span("page_tiles.expr.cell_encode")(noop(keyed))
    tr.span("page_tiles.jobs.cover_probe")(noop(cand))
    tr.span("page_tiles.expr.refine")(noop(cand.filter(!col("fallback"))
      .filter(col("full") || G.point_in_cell(col("lon7"), col("lat7"), col("cell"),
        col("corner_inside"), col("edges")))
      .select("url", "lat7", "lon7", "relation_id")))
    tracedHits += tr.span("page_tiles.jobs.tiles")(tiles())._2.toDouble
    scanAndGeoparse("page_knn", knnPagesPath)
    tr.span("page_knn.jobs.knn")(knn())
  }

  def derived(tr: Tracer, untraced: Map[String, Double]): Map[String, Double] = {
    def rows(span: String) = tr.median(span, _.joinRows.toDouble)
    // candidates: output of the bare cover probe (rung 4), before any
    // refine predicate can be folded into the join
    val cand = rows("page_tiles.jobs.cover_probe")
    if (tilePoints == 0L)
      tilePoints = SpatialJoin.geoparsedPoints(read(tilePagesPath)).count()
    Map(
      "page_tiles.jobs.cover_probe.candidates_per_point" -> cand / tilePoints,
      "page_tiles.expr.refine.hit_ratio" -> Stats.median(tracedHits) / cand,
      // pass pages/s ÷ scan-only pages/s
      "page_tiles.spark.parquet_scan.floor_share" ->
        tr.median("page_tiles.spark.parquet_scan") / untraced("tiles_s"),
      "page_knn.jobs.knn.pairs_per_point" -> rows("page_knn.jobs.knn") / knnPoints,
      "page_tiles.tracing_overhead" ->
        (tr.median("page_tiles.jobs.tiles") - untraced("tiles_s")),
      "page_knn.tracing_overhead" ->
        (tr.median("page_knn.jobs.knn") - untraced("knn_s")))
  }
}

/** A diff batch applied to the admin layer incrementally, beside the full
  * rebuild of the new snapshot that is its correctness reference. */
final class AdminUpdate(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  val name = "admin_update"
  private var snap: Dataset[OsmEntity] = _
  private var diffs: Dataset[OsmEntity] = _
  private var prevAreas: Dataset[AdminAreas.AdminArea] = _
  private var prevCover: Dataset[AdminAreas.CoverRowEx] = _
  private var nRelations = 0L
  private var nTouched = 0L
  def rates(u: Map[String, Double]): Map[String, Double] = Map(
    "areas_per_update_s" -> nRelations / u("update_s"),
    "areas_per_rebuild_s" -> nRelations / u("rebuild_s"))
  private def level = Params.coverMaxLevel

  def setup(dir: Path): Unit = {
    val world = new World(AdminWorld, seed)
    snap = PbfRead.read(spark, writeWorld(world, dir)).localCheckpoint()
    prevAreas = AdminAreas.build(spark, snap).localCheckpoint()
    prevCover = AdminAreas.coverTableDetailed(spark, prevAreas, level).localCheckpoint()
    diffs = world.diffBatch.toDS().localCheckpoint()
    nRelations = prevAreas.count()
    require(nRelations == world.polygons.length,
      s"assembled $nRelations areas, the world has ${world.polygons.length}")
  }

  def pass(): Pass = {
    val ((areas, cover, next), updateS) = seconds {
      val r = AdminAreas.incrementalUpdate(spark, snap, prevAreas, diffs)
      (r.areas.localCheckpoint(),
        AdminAreas.incrementalCover(spark, prevCover, r.rebuilt, r.touched, level)
          .localCheckpoint(),
        r.snapshot)
    }
    val ((fullAreas, fullCover), rebuildS) = seconds {
      val a = AdminAreas.build(spark, next).localCheckpoint()
      (a, AdminAreas.coverTableDetailed(spark, a, level).localCheckpoint())
    }
    val areaDiff = rowDiff(areas.toDF(), fullAreas.toDF())
    val coverDiff = rowDiff(cover.toDF(), fullCover.toDF())
    val failure =
      if (areaDiff != 0) Some(s"incremental areas differ from the rebuild in $areaDiff rows")
      else if (coverDiff != 0) Some(s"incremental cover differs from the rebuild in $coverDiff rows")
      else None
    Pass(updateS, Map("update_s" -> updateS, "rebuild_s" -> rebuildS), failure)
  }

  val ladders = Seq("streaming.apply_diffs", "jobs.touched", "jobs.admin_subset",
    "jobs.cover_merge", "jobs.admin_build", "jobs.cover").map(l => Seq(s"admin_update.$l"))

  // incrementalUpdate's own steps, called one by one so each is a span
  def tracedPass(tr: Tracer): Unit = {
    val next = tr.span("admin_update.streaming.apply_diffs")(
      Replication.applyDiffs(spark, snap, diffs).localCheckpoint())
    val touched = tr.span("admin_update.jobs.touched")(
      AdminAreas.touchedRelations(spark, snap, next, diffs).localCheckpoint())
    nTouched = touched.count()
    val rebuilt = tr.span("admin_update.jobs.admin_subset") {
      val rb = AdminAreas.build(spark, next, onlyRelations = Some(touched)).localCheckpoint()
      prevAreas.join(touched, prevAreas("relationId") === touched("relation_id"), "left_anti")
        .as[AdminAreas.AdminArea].union(rb).localCheckpoint()
      rb
    }
    tr.span("admin_update.jobs.cover_merge")(
      AdminAreas.incrementalCover(spark, prevCover, rebuilt, touched, level).localCheckpoint())
    val full = tr.span("admin_update.jobs.admin_build")(
      AdminAreas.build(spark, next).localCheckpoint())
    tr.span("admin_update.jobs.cover")(
      AdminAreas.coverTableDetailed(spark, full, level).localCheckpoint())
  }

  // only the four update spans correspond to the untraced update_s
  def derived(tr: Tracer, untraced: Map[String, Double]): Map[String, Double] = Map(
    "admin_update.jobs.touched.touched_share" -> nTouched.toDouble / nRelations,
    "admin_update.tracing_overhead" ->
      (ladders.take(4).map(l => tr.median(l.head)).sum - untraced("update_s")))
}
