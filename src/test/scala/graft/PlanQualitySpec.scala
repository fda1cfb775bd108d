package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.SpatialJoin
import graft.synth.Pages

/** Physical-plan assertions (SURVEY.md §4): the 100 TB concerns — column
  * pruning reaches the scan, small sides broadcast, hot paths stay in
  * whole-stage codegen — are pinned here so regressions fail loudly. */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def planString(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.executedPlan
    plan.toString() + "\n" + df.queryExecution.toString
  }

  test("geoparse over parquet pages prunes html (reads only url+text)") {
    val dir = "/tmp/graft-test-pages-parquet"
    Pages.generate(spark, 1000).write.mode("overwrite").parquet(dir)
    val pts = SpatialJoin.geoparsedPoints(spark.read.parquet(dir))
    val scan = pts.queryExecution.executedPlan.collectLeaves().head.toString()
    assert(scan.contains("url") && scan.contains("text"))
    assert(!scan.contains("html"),
      s"html must be pruned from the parquet scan:\n$scan")
    assert(!scan.contains("warc_ts") && !scan.contains("lang"))
  }

  test("filter pushdown reaches the parquet scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_orderkey") === 42L).select("l_partkey")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString()
    assert(scan.contains("PushedFilters") && scan.contains("l_orderkey"),
      s"expected pushed filter on l_orderkey:\n$scan")
  }

  test("dimension joins broadcast (no shuffle of the small side)") {
    val plan = planString(
      SparkEntry.queries("q_join_dims")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("spatial containment join broadcasts the cover at fixture scale") {
    import spark.implicits._
    val areas = graft.jobs.AdminAreas.build(spark,
      graft.pbf.PbfRead.read(spark, "/root/reference/tests/fixtures/niue-230612.osm.pbf"))
    val prep = SpatialJoin.prepare(spark, areas)
    val joined = SpatialJoin.run(spark, Pages.generate(spark, 1000), prep,
      SpatialJoin.Params())
    // the small cover side rides as the kernel's broadcast index — a
    // shuffle of it here would dominate at scale
    val plan = joined.joined.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join") && !plan.contains("Exchange"), s"plan:\n$plan")
    assert(coverKernels(joined.joined) == Seq(prep.coverInfo.index.get.id))
  }

  private def coverKernels(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e: graft.expr.CoverProbeExpr => e.index.id
    }))

  test("containment probe plans one kernel over the memoized cover broadcast") {
    // within coverBroadcastMaxRows the tiles pipeline is scan → kernel
    // explode → partial aggregate: no join, no exchange before the tile
    // aggregate's own, no per-level ancestor explode
    import spark.implicits._
    val p = SpatialJoin.Params(coverMaxLevel = 11)
    val prep = SpatialJoin.prepare(spark,
      spark.createDataset(graft.jobs.SpatialJoinWorlds.gridAreas), p)
    val pts = graft.jobs.SpatialJoinWorlds.gridPoints.toDF("url", "lat7", "lon7")
    def tiles() = SpatialJoin.tiles(SpatialJoin.containmentJoin(spark, pts,
      prep.cover, prep.polygons, p, Some(prep.coverInfo)), SpatialJoin.TileZoom)
    val df = tiles()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"the kernel path must be join-free:\n$plan")
    assert("Exchange".r.findAllMatchIn(plan).size == 1 &&
      plan.contains("Exchange hashpartitioning(t#"),
      s"the tile aggregate's must be the only exchange:\n$plan")
    assert(!plan.contains("cellancestorexpr") && plan.contains("coverprobeexpr"),
      s"plan:\n$plan")
    // one broadcast, built once per prepared cover and reused by the next call
    val id = prep.coverInfo.index.get.id
    assert(coverKernels(df) == Seq(id) && coverKernels(tiles()) == Seq(id))
    assert(df.agg(sum("n_pages")).head().getLong(0) > 10000L)
  }

  test("geo expressions stay inside WholeStageCodegen") {
    import graft.expr.{GeoFunctions => G}
    import spark.implicits._
    val df = spark.range(100)
      .select((col("id") % 100).as("lat7"), (col("id") % 200).as("lon7"))
      .select(G.cell_encode(col("lat7"), col("lon7"), lit(12)).as("c"),
        G.tile_zxy(col("lat7"), col("lon7"), lit(10)).as("t"))
    val exec = df.queryExecution.executedPlan
    val fused = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.toString()
    }
    // the custom expressions must appear INSIDE a fused codegen stage
    assert(fused.exists(s => s.contains("cellencodeexpr") && s.contains("tilezxyexpr")),
      s"plan:\n$exec")
    df.collect() // and the fused stage must actually compile + run
  }

  /** The kNN tree kernel's plan: no join at all, the per-url
    * aggregation as the only exchange, and the centre index referenced
    * as the memoized broadcast — never as plan-constant arrays. */
  private def assertTreeKnnPlan(k: Int): Unit = {
    import graft.expr.{KnnTopExpr, KnnTreeExpr}
    val pts = spark.range(1000)
      .select(col("id").cast("string").as("url"),
        (col("id") % 1000000L).as("lat7"), (col("id") % 2000000L).as("lon7"))
    val centres = spark.range(20)
      .select(col("id").as("relation_id"),
        (col("id") * 7777L).as("c_lat7"), (col("id") * 9999L).as("c_lon7"))
    // knnDenseMaxCentres = 0 forces the tree kernel — the plan a
    // planet-sized centre table gets
    val idx = SpatialJoin.CentreIndex.of(centres)
    val p = SpatialJoin.Params(knnDenseMaxCentres = 0L)
    def knn() =
      if (k == 1) SpatialJoin.knnCentres(spark, pts, idx, p)
      else SpatialJoin.knnCentresK(spark, pts, idx, p, k)
    val df = knn()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"tree kNN (k=$k) must be join-free:\n$plan")
    assert("Exchange".r.findAllMatchIn(plan).size == 1 &&
      plan.contains("Exchange hashpartitioning(url"),
      s"the per-url aggregation must be the only exchange (k=$k):\n$plan")
    def kernels(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case e: KnnTreeExpr => e.tree.id
        case _: KnnTopExpr => -1L
      }))
    // one broadcast, built once per index and reused by the next call
    assert(kernels(df) == Seq(idx.tree.id) && kernels(knn()) == Seq(idx.tree.id))
    assert(df.count() == 1000L * k)
  }

  test("kNN general path has no cartesian/nested-loop join and broadcasts the centre index") {
    assertTreeKnnPlan(k = 1)
  }

  test("kNN k>1 general path plans no join and broadcasts the centre index") {
    assertTreeKnnPlan(k = 3)
  }

  test("kNN dense path (dimension-sized centre table) plans no join at all") {
    // at ≤ knnDenseMaxCentres the centre table rides the plan as a
    // constant array and the per-point top-k is a codegen loop — the
    // only exchange left is the per-url aggregation
    val pts = spark.range(1000)
      .select(col("id").cast("string").as("url"),
        (col("id") % 1000000L).as("lat7"), (col("id") % 2000000L).as("lon7"))
    val centres = spark.range(20)
      .select(col("id").as("relation_id"),
        (col("id") * 7777L).as("c_lat7"), (col("id") * 9999L).as("c_lon7"))
    for (k <- Seq(1, 3)) {
      val knn =
        if (k == 1) SpatialJoin.knnCentres(spark, pts, centres, SpatialJoin.Params())
        else SpatialJoin.knnCentresK(spark, pts, centres, SpatialJoin.Params(), k)
      val plan = knn.queryExecution.executedPlan.toString()
      assert(!plan.contains("Join"), s"dense kNN (k=$k) must be join-free:\n$plan")
    }
  }

  test("kNN dense and general paths are output-identical (k=1 and k=3)") {
    val pts = spark.range(500)
      .select(col("id").cast("string").as("url"),
        ((col("id") * 104729L) % 1800000001L - 900000000L).as("lat7"),
        ((col("id") * 7919L) % 3600000001L - 1800000000L).as("lon7"))
    val centres = spark.range(20)
      .select(col("id").as("relation_id"),
        ((col("id") * 7777777L) % 1800000001L - 900000000L).as("c_lat7"),
        ((col("id") * 9999991L) % 3600000001L - 1800000000L).as("c_lon7"))
    val dense1 = SpatialJoin.knnCentres(spark, pts, centres, SpatialJoin.Params())
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val gen1 = SpatialJoin.knnCentres(spark, pts, centres,
      SpatialJoin.Params(knnDenseMaxCentres = 0L))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dense1 == gen1 && dense1.nonEmpty)
    val dense3 = SpatialJoin.knnCentresK(spark, pts, centres,
      SpatialJoin.Params(), k = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val gen3 = SpatialJoin.knnCentresK(spark, pts, centres,
      SpatialJoin.Params(knnDenseMaxCentres = 0L), k = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(dense3 == gen3 && dense3.size == 3 * dense1.size)
  }

  test("kNN at 10⁵ centres stays join-free and matches brute force on a sample") {
    // a planet has ~10⁶ admin centres; the tree kernel's plan carries
    // only the broadcast handle, whatever the centre count
    val pts = spark.range(1000)
      .select(col("id").cast("string").as("url"),
        (col("id") % 1000000L).as("lat7"), (col("id") % 2000000L).as("lon7"))
    val centres = spark.range(100000)
      .select(col("id").as("relation_id"),
        ((col("id") * 7777L) % 800000000L).as("c_lat7"),
        ((col("id") * 9999L) % 1600000000L).as("c_lon7"))
    val knn = SpatialJoin.knnCentres(spark, pts, centres, SpatialJoin.Params())
    val plan = knn.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"kNN must stay join-free at 10⁵ centres:\n$plan")
    val got = knn.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 1000)
    val cents = centres.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- 0L until 1000L by 10L) {
      val (lat, lon) = (id % 1000000L, id % 2000000L)
      val best = cents.map { case (rel, clat, clon) =>
        val dlon = math.min(math.abs(lon - clon), 3600000000L - math.abs(lon - clon))
        ((lat - clat) * (lat - clat) + dlon * dlon, rel)
      }.min._2
      assert(got(id.toString) == best, s"url $id")
    }
  }

  test("ANN embedding plan stays a bucket equi-join (no cartesian/nested-loop)") {
    val plan = SparkEntry.queries("q_embed_ann_lsh")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"ANN must never degrade to an all-pairs join:\n$plan")
  }

  test("text LSH plans stay bucketed equi-joins (no cartesian/nested-loop)") {
    for (q <- Seq("q_dedup_minhash_lsh", "q_ngram_jaccard_lsh")) {
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString()
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must stay a band-bucket equi-join plan:\n$plan")
    }
  }

  test("as-of and range joins never degrade to nested-loop/cartesian plans") {
    for (q <- Seq("q_asof_join", "q_range_join")) {
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString()
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must stay an equi-join plan:\n$plan")
    }
  }

  test("no gate query plans a nested-loop/cartesian join (except the two documented baselines)") {
    // q_ngram_jaccard (1/17-slice all-pairs probe) and q_embed_knn_l2q
    // (fixture-slice brute force) are DELIBERATE bounded quadratic
    // baselines; everything else must stay equi-join shaped. Queries
    // that execute work during construction are skipped — their final
    // DF is a tiny aggregate whose internal joins are asserted by
    // their own specs/degrade tests.
    val baselines = Set("q_ngram_jaccard", "q_embed_knn_l2q")
    // scalar attach: a 1-ROW aggregate broadcast to every task (BM25's
    // corpus stats) legitimately plans as BroadcastNestedLoopJoin —
    // with a single-row build side that IS the optimal plan. Allowed
    // only as broadcast-build NL; a CartesianProduct would mean the
    // broadcast was lost.
    val scalarAttach = Set("q_bm25_topk")
    val eager = Set("q_stream_dedup", "q_osc_upsert", "q_pgcopy_roundtrip",
      "q_osm_roundtrip", "q_multimodal", "q_dedup_clusters")
    val sf = "/root/testdata/sf0.001"
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
        if !baselines(name) && !eager(name)) {
      val plan = fn(spark, sf).queryExecution.sparkPlan.toString()
      if (scalarAttach(name))
        assert(plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("CartesianProduct"),
          s"$name must attach its scalar stats via broadcast:\n$plan")
      else
        assert(!plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("CartesianProduct"),
          s"$name plans a non-equi join:\n$plan")
    }
  }

  test("corpus dedup elections never broadcast (their build sides scale with the corpus)") {
    // the keeper/election frames of the dedup family are one row per
    // distinct paragraph/shingle — corpus-sized; Spark byte-
    // underestimates post-agg sides and would broadcast them, which
    // OOMs at crawl scale. The forced shuffled-hash form must hold.
    val sf = "/root/testdata/sf0.001"
    for (name <- Seq("q_para_dedup", "q_substr_dedup", "q_substr_trim")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan.toString()
      assert(!plan.contains("BroadcastHashJoin"),
        s"$name must not broadcast a corpus-sized side:\n$plan")
      assert(plan.contains("ShuffledHashJoin"),
        s"$name lost its shuffled-hash election join:\n$plan")
    }
    // the ppl filter's ONLY broadcast is the fixed vocab model (the
    // legitimate dim side); the doc-score side must not broadcast
    val ppl = SparkEntry.queries("q_ppl_filter")(spark, sf)
      .queryExecution.sparkPlan.toString()
    assert(ppl.contains("BroadcastHashJoin"),
      s"q_ppl_filter should broadcast the fixed vocab:\n$ppl")
    assert(!ppl.contains("CartesianProduct") &&
      !ppl.contains("BroadcastNestedLoopJoin"))
  }

  test("exact dedup never shuffles with raw text as the key") {
    // the election key must be the 16-byte (xxhash64, length)
    // fingerprint — an Exchange hash-partitioned on `text` would push
    // the corpus' distinct bytes through document-sized shuffle
    // comparators at 100 TB
    val sf = "/root/testdata/sf0.001"
    def noTextKey(tag: String, plan: String): Unit =
      for (line <- plan.linesIterator if line.contains("hashpartitioning"))
        assert(!line.contains("text#"),
          s"$tag shuffles on raw text:\n$line\nfull plan:\n$plan")
    noTextKey("q_dedup_exact",
      SparkEntry.queries("q_dedup_exact")(spark, sf)
        .queryExecution.sparkPlan.toString())
    import spark.implicits._
    val docs = Seq((1L, "aa"), (2L, "aa"), (3L, "bb"))
      .toDF("doc_id", "text")
    val stage = graft.jobs.CorpusPipeline.dedupExact(docs)
      .queryExecution.sparkPlan.toString()
    noTextKey("CorpusPipeline dedup stage", stage)
    assert(!stage.contains("BroadcastHashJoin"),
      s"winner semi-join must not broadcast a corpus-sized side:\n$stage")
    // incremental cross-crawl dedup: fingerprint keys only, and the
    // history-sized old index must never broadcast
    val inc = SparkEntry.queries("q_dedup_incremental")(spark, sf)
      .queryExecution.sparkPlan.toString()
    noTextKey("q_dedup_incremental", inc)
    assert(!inc.contains("BroadcastHashJoin"),
      s"old-crawl fingerprint index must not broadcast:\n$inc")
  }

  test("tile aggregation is a single partial+final aggregate (one shuffle)") {
    import spark.implicits._
    val joined = Seq(("u", -190000000L, -1699000000L, 1L))
      .toDF("url", "lat7", "lon7", "relation_id")
    val tiles = SpatialJoin.tiles(joined, 12)
    val plan = tiles.queryExecution.executedPlan.toString()
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"tiles must shuffle exactly once:\n$plan")
  }
}
