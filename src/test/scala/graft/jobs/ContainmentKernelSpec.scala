package graft.jobs

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expr.CoverProbeExpr

/** The containment kernel (one `cover_probe` per point over the
  * broadcast CoverIndex) ≡ the shuffled cell equi-join
  * (`coverBroadcastMaxRows = 0`), as exact row multisets — every point
  * column included — on grid, hot-cluster, fallback-bearing, extra-
  * column, all-outside, empty-point and empty-cover inputs. */
class ContainmentKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import SpatialJoinWorlds._

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  private def kernelIds(df: DataFrame): Seq[Long] =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case e: CoverProbeExpr => e.index.id
    }))

  /** Both paths over the same prepared cover; returns the kernel's rows. */
  private def assertKernelMatchesJoin(prep: SpatialJoin.Prepared,
      p: SpatialJoin.Params, points: DataFrame): Map[Row, Int] = {
    val index = prep.coverInfo.index
    assert(index.isDefined, "the cover must be within the broadcast bound")
    val kernel = SpatialJoin.containmentJoin(spark, points, prep.cover,
      prep.polygons, p, Some(prep.coverInfo))
    val joined = SpatialJoin.containmentJoin(spark, points, prep.cover,
      prep.polygons, p.copy(coverBroadcastMaxRows = 0L), Some(prep.coverInfo))
    assert(kernelIds(kernel).nonEmpty && kernelIds(kernel).forall(_ == index.get.id))
    assert(kernelIds(joined).isEmpty)
    assert(joined.queryExecution.analyzed.toString.contains("Join"))
    assert(kernel.columns.toSeq == points.columns.toSeq :+ "relation_id")
    assert(joined.columns.toSeq == kernel.columns.toSeq)
    val got = multiset(kernel)
    assert(got == multiset(joined))
    got
  }

  private lazy val gridP = SpatialJoin.Params(coverMaxLevel = 11)
  private lazy val gridPrep =
    SpatialJoin.prepare(spark, spark.createDataset(gridAreas), gridP)

  test("grid + hot cluster: kernel ≡ shuffled join, duplicates kept") {
    // the first 500 grid points twice: duplicate input rows must give
    // duplicate output rows on both paths
    val pts = (gridPoints ++ hotPoints ++ gridPoints.take(500))
      .toDF("url", "lat7", "lon7")
    val got = assertKernelMatchesJoin(gridPrep, gridP, pts)
    assert(got.values.sum > 20000 && got.values.exists(_ > 1))
  }

  test("a cover holding every row twice doubles every hit on both paths") {
    // direct callers pass any cover; the index keeps row multiplicity
    val twice = gridPrep.cover.union(gridPrep.cover)
    val pts = gridPoints.take(4000).toDF("url", "lat7", "lon7")
    def rows(p: SpatialJoin.Params) = multiset(SpatialJoin.containmentJoin(spark, pts,
      twice, gridPrep.polygons, p))
    val once = multiset(SpatialJoin.containmentJoin(spark, pts, gridPrep.cover,
      gridPrep.polygons, gridP, Some(gridPrep.coverInfo)))
    assert(once.nonEmpty)
    assert(rows(gridP) == once.map { case (r, k) => r -> 2 * k })
    assert(rows(gridP.copy(coverBroadcastMaxRows = 0L)) == rows(gridP))
  }

  private def keptRows(parts: Seq[graft.geo.CoverIndex.Part]): Long =
    parts.map(pt => if (pt.rels == null) 0L else pt.rels.length.toLong).sum

  test("a cover over the bound in partitions each under it ships at most the bound") {
    val n = gridPrep.cover.count()
    val split = gridPrep.cover.repartition(4)
    val maxRows = n / 2
    val sizes = split.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length == 4 && sizes.forall(_ <= maxRows) && sizes.sum == n)
    val parts = SpatialJoin.coverParts(split, maxRows)
    assert(parts.map(_.n).sum == n)
    assert(keptRows(parts) <= maxRows)
    val info = SpatialJoin.coverInfoOf(split, maxRows)
    assert(info.index.isEmpty && info.nRows == n)
    assert(info.levels == gridPrep.coverInfo.levels)
  }

  test("a skewed cover within the bound still gets its whole index") {
    // every row in one of four partitions: over that partition's share
    // of the bound, so a second job fetches it
    val n = gridPrep.cover.count()
    val skewed = gridPrep.cover.repartition(4, lit(0))
    assert(skewed.rdd.mapPartitions(it => Iterator(it.size)).collect().sorted.toSeq ==
      Seq(0, 0, 0, n.toInt))
    assert(keptRows(SpatialJoin.coverParts(skewed, n)) == n)
    val info = SpatialJoin.coverInfoOf(skewed, n)
    assert(info.nRows == n && info.index.isDefined)
    def rowSet(rows: Iterator[(Long, graft.geo.Cover.CoverCellEx)]) =
      rows.map { case (rel, c) => (rel, c.cell, c.full, c.cornerInside, c.fallback,
        c.edges.toSeq) }.toSeq.groupBy(identity).map { case (r, rs) => r -> rs.length }
    assert(rowSet(info.index.get.value.rows(0, 1)) ==
      rowSet(gridPrep.coverInfo.index.get.value.rows(0, 1)))
  }

  test("lattice fallback cover, corner point included: kernel ≡ shuffled join") {
    val (area, (la, lo)) = lattice
    val p = SpatialJoin.Params(coverMaxLevel = 12)
    val prep = SpatialJoin.prepare(spark, spark.createDataset(Seq(area)), p)
    assert(prep.coverInfo.hasFallback, "this cover must carry fallback cells")
    val pts = (Seq(("corner", la, lo), ("out", la - 1000000L, lo - 1000000L)) ++
      (0 until 400).map(k => (s"g$k", la + k * 13331L, lo + k * 29989L)))
      .toDF("url", "lat7", "lon7")
    val got = assertKernelMatchesJoin(prep, p, pts)
    assert(got.keys.exists(_.getString(0) == "corner"))
    assert(!got.keys.exists(_.getString(0) == "out"))
  }

  test("an extra point column (streaming's warc_ts) rides through") {
    val pts = gridPoints.take(3000).zipWithIndex.map { case ((u, la, lo), i) =>
      (u, new Timestamp(1700000000000L + i * 60000L), la, lo)
    }.toDF("url", "warc_ts", "lat7", "lon7")
    val got = assertKernelMatchesJoin(gridPrep, gridP, pts)
    assert(got.nonEmpty && got.keys.forall(_.get(1).isInstanceOf[Timestamp]))
  }

  test("points outside every cell and empty points give no rows") {
    val outside = (0 until 1000).map(k => (s"o$k", 800000000L - k, 1700000000L + k))
      .toDF("url", "lat7", "lon7")
    assert(assertKernelMatchesJoin(gridPrep, gridP, outside).isEmpty)
    val empty = Seq.empty[(String, Long, Long)].toDF("url", "lat7", "lon7")
    assert(assertKernelMatchesJoin(gridPrep, gridP, empty).isEmpty)
  }

  test("interpreted kernel ≡ generated kernel") {
    // interpreted eval returns a fresh array per point; generated code
    // reuses one buffer per task, which only explode may consume
    val pts = (gridPoints ++ hotPoints.take(2000)).toDF("url", "lat7", "lon7")
    def run() = multiset(SpatialJoin.containmentJoin(spark, pts, gridPrep.cover,
      gridPrep.polygons, gridP, Some(gridPrep.coverInfo)))
    val confs = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback",
      "spark.sql.codegen.wholeStage")
    def set(vs: String*): Unit = confs.zip(vs).foreach { case (k, v) => spark.conf.set(k, v) }
    val (interp, fused) = try {
      set("NO_CODEGEN", "true", "false")
      val i = run()
      set("CODEGEN_ONLY", "false", "true")
      (i, run())
    } finally set("FALLBACK", "true", "true")
    assert(interp == fused && fused.values.sum > 10000)
  }

  test("an empty cover plans and runs with no rows on both paths") {
    val prep = SpatialJoin.prepare(spark,
      spark.createDataset(Seq.empty[AdminAreas.AdminArea]), gridP)
    assert(prep.coverInfo.nRows == 0L && prep.coverInfo.levels.isEmpty)
    assert(prep.cover.isEmpty)
    val pts = gridPoints.take(100).toDF("url", "lat7", "lon7")
    val kernel = SpatialJoin.containmentJoin(spark, pts, prep.cover,
      prep.polygons, gridP, Some(prep.coverInfo))
    assert(kernelIds(kernel).nonEmpty && kernel.isEmpty)
    // a negative bound leaves even an empty cover without an index
    val joined = SpatialJoin.containmentJoin(spark, pts, prep.cover,
      prep.polygons, gridP.copy(coverBroadcastMaxRows = -1L))
    assert(kernelIds(joined).isEmpty && joined.isEmpty)
  }
}
