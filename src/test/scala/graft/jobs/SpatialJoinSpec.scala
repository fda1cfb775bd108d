package graft.jobs

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.geo.{Geom, Tiling}
import graft.pbf.PbfRead
import graft.synth.Pages

/** End-to-end spatial join against a plain-Scala oracle (no Spark in the
  * oracle path): per-url containment via Geom.pointInRings, kNN via
  * brute-force argmin, tiles via recount. */
class SpatialJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fixture = "/root/reference/tests/fixtures/niue-230612.osm.pbf"
  private val nPages = 3000L

  private lazy val areas =
    AdminAreas.build(spark, PbfRead.read(spark, fixture)).cache()
  private lazy val areaArr = areas.collect()

  /** Oracle: parse the planted coordinate the same way the generator
    * planted it (pages carry lat7/lon7 derivable from the text via the
    * same fixed-point parse the engine uses — here recomputed from the
    * collected text with a trivial regex, independent of RT.geoparse). */
  private def oracleParse(text: String): Option[(Long, Long)] = {
    val num = """-?\d{1,3}\.\d+""".r
    val ms = num.findAllIn(text).toList
    if (ms.length < 2) None
    else {
      def fp(s: String): Long = {
        val neg = s.startsWith("-")
        val t = if (neg) s.substring(1) else s
        val Array(i, f) = t.split("\\.")
        val f7 = (f + "0000000").take(7)
        val v = i.toLong * 10000000L + f7.toLong
        if (neg) -v else v
      }
      Some((fp(ms(0)), fp(ms(1))))
    }
  }

  private lazy val pagesDf = Pages.generate(spark, nPages).cache()
  private lazy val collected = pagesDf.select("url", "text").collect()
    .map(r => (r.getString(0), r.getString(1)))

  test("pages generator is deterministic across parallelism and preserves text bytes") {
    def snapshot(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("html", col("html").cast("string"))
        .collect().map(_.toString).sorted.toSeq
    val a = snapshot(Pages.generate(spark, 500))
    val b = snapshot(Pages.generate(spark, 500).repartition(13))
    assert(a == b)
    // schema is exactly the input_hint shape
    assert(Pages.generate(spark, 1).schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("url" -> "string", "warc_ts" -> "timestamp", "html" -> "binary",
        "text" -> "string", "lang" -> "string"))
  }

  test("containment join matches the plain-Scala PIP oracle per url") {
    val out = SpatialJoin.run(spark, pagesDf, areas)
    val got = out.joined.select("url", "relation_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val expected = (for {
      (url, text) <- collected
      (lat7, lon7) <- oracleParse(text).toSeq
      a <- areaArr
      if Geom.pointInRings(lon7, lat7, a.rings.map(_.toArray).toArray)
    } yield (url, a.relationId)).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(expected.nonEmpty, "test must exercise hits")
  }

  test("fallback cover cells take the polygon-refine branch (lattice-adversarial)") {
    // a square aligned to level-10 cell walls puts SW corners exactly ON
    // edges → the cover flags fallback cells, exercising the branch the
    // join skips when a cover has none
    val (area, (la, lo)) = SpatialJoinWorlds.lattice
    val (inLat, inLon) = (area.centreLat7.get, area.centreLon7.get)
    val ds = spark.createDataset(Seq(area))
    val prep = SpatialJoin.prepare(spark, ds, SpatialJoin.Params(coverMaxLevel = 12))
    assert(!prep.cover.filter(_.fallback).isEmpty,
      "this fixture must produce fallback cells or the branch is untested")
    // points: inside, outside, and exactly on the adversarial corner
    val pts = Seq(
      ("in", inLat, inLon),
      ("corner", la, lo),
      ("out", la - 1000000L, lo - 1000000L))
      .toDF("url", "lat7", "lon7")
    val got = SpatialJoin.containmentJoin(spark, pts, prep.cover, prep.polygons,
        SpatialJoin.Params(coverMaxLevel = 12))
      .select("url").as[String].collect().toSet
    val rings = area.rings.map(_.toArray).toArray
    val expected = Seq(("in", inLat, inLon),
      ("corner", la, lo), ("out", la - 1000000L, lo - 1000000L))
      .filter { case (_, y, x) => Geom.pointInRings(x, y, rings) }
      .map(_._1).toSet
    assert(got == expected, s"got=$got expected=$expected")
    assert(got.contains("in"))
  }

  test("kNN matches brute-force argmin with deterministic tie-break") {
    val out = SpatialJoin.run(spark, pagesDf, areas)
    val got = out.knn.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    def d2(lat7: Long, lon7: Long, a: AdminAreas.AdminArea): Long = {
      val dlat = lat7 - a.centreLat7.get
      val dlonRaw = math.abs(lon7 - a.centreLon7.get)
      val dlon = math.min(dlonRaw, 3600000000L - dlonRaw)
      dlat * dlat + dlon * dlon
    }
    var checked = 0
    for ((url, text) <- collected; (lat7, lon7) <- oracleParse(text).toSeq) {
      val best = areaArr.map(a => (d2(lat7, lon7, a), a.relationId)).min
      assert(got.contains(url), s"kNN missing url $url")
      assert(got(url) == best._2, s"kNN mismatch for $url: got ${got(url)} want ${best._2}")
      checked += 1
    }
    assert(checked > 1000)
    assert(got.size == checked, "every geoparsed page gets exactly one kNN row")
  }

  test("tile aggregation matches recount oracle") {
    val out = SpatialJoin.run(spark, pagesDf, areas)
    val got = out.tileCounts.collect()
      .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)), r.getLong(4))).toMap
    val joined = out.joined.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = joined.groupBy { case (_, lat7, lon7, rel) =>
      val t = Tiling.tile(lat7, lon7, 12)
      (12, Tiling.x(t), Tiling.y(t), rel)
    }.map { case (k, v) => (k, v.size.toLong) }
    assert(got == expected)
  }

  test("coverInfoOf fuses the three cover-side facts exactly (r9)") {
    // the fused one-action CoverInfo must equal the facts computed the
    // round-8 way (three separate actions), on a fallback-free cover
    // (Niue at detail 17) AND a fallback-bearing one (the lattice
    // square from the adversarial test above)
    val lattice = spark.createDataset(Seq(SpatialJoinWorlds.lattice._1))
    for ((prep, p) <- Seq(
        SpatialJoin.prepare(spark, areas) -> SpatialJoin.Params(),
        SpatialJoin.prepare(spark, lattice,
          SpatialJoin.Params(coverMaxLevel = 12)) ->
          SpatialJoin.Params(coverMaxLevel = 12))) {
      val info = prep.coverInfo
      val coverDf = prep.cover.toDF("relation_id", "cell", "full",
        "corner_inside", "fallback", "edges")
      val levels8 = coverDf
        .select(shiftrightunsigned(col("cell"), 58).cast("int").as("l"))
        .distinct().as[Int].collect().sorted.toSeq
      assert(info.levels == levels8)
      assert(info.nRows == coverDf.count())
      assert(info.hasFallback == !coverDf.filter(col("fallback")).isEmpty)
      // and the info-supplied join is row-identical to the default path
      val pts = pagesDf.limit(200)
        .select(col("url"), lit(100100000L).as("lat7"), lit(200200000L).as("lon7"))
      def rows(r: org.apache.spark.sql.DataFrame) =
        r.select("url", "relation_id").collect()
          .map(x => (x.getString(0), x.getLong(1))).toSet
      assert(rows(SpatialJoin.containmentJoin(spark, pts, prep.cover,
          prep.polygons, p, Some(info))) ==
        rows(SpatialJoin.containmentJoin(spark, pts, prep.cover,
          prep.polygons, p)))
    }
  }

  test("kNN tree kernel is output-identical to the dense kernel") {
    val base = SpatialJoin.run(spark, pagesDf, areas)
    // knnDenseMaxCentres = 0 forces the broadcast-tree kernel — the
    // one a planet's centre count gets; the default base run takes the
    // dense kernel, so this is a cross-kernel identity check
    val tree = SpatialJoin.run(spark, pagesDf, areas,
      SpatialJoin.Params(knnDenseMaxCentres = 0L))
    val a = base.knn.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = tree.knn.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("over-bound cover join degrades to shuffle with identical output") {
    // coverBroadcastMaxRows = 0 forces the containment join onto the
    // shuffled path — the plan at planet-detail cover sizes; cost may
    // change, rows must not
    val base = SpatialJoin.run(spark, pagesDf, areas)
    val degraded = SpatialJoin.run(spark, pagesDf, areas,
      SpatialJoin.Params(coverBroadcastMaxRows = 0L))
    val a = base.joined.select("url", "relation_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val b = degraded.joined.select("url", "relation_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
    assert(!degraded.joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "degraded cover join must not broadcast")
  }
}
