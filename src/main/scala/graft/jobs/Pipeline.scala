package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.jobs.AdminAreas.AdminArea
import graft.pbf.PbfRead
import graft.snap.Snapshot
import graft.snap.Snapshot.StageResult
import graft.synth.Pages

/** The snapshotted end-to-end pipeline (J9): every stage commits an
  * immutable parquet set + manifest with lineage; re-running after a
  * kill resumes from the last committed stage with zero recompute of
  * committed work. */
object Pipeline {

  final case class RunReport(stages: Map[String, StageResult])

  def run(spark: SparkSession, pbfPath: String, nPages: Long,
      root: String, p: SpatialJoin.Params = SpatialJoin.Params()): RunReport = {
    import spark.implicits._

    val (areasDf, sAreas) = Snapshot.stage(spark, root, "admin_areas",
      Seq(s"pbf:$pbfPath")) {
      AdminAreas.build(spark, PbfRead.read(spark, pbfPath)).toDF()
    }
    val areas = areasDf.as[AdminArea]

    val (coverDf, sCover) = Snapshot.stage(spark, root, "cover",
      Seq(sAreas.key, s"maxLevel:${p.coverMaxLevel}", "v2-detailed")) {
      AdminAreas.coverTableDetailed(spark, areas, p.coverMaxLevel).toDF()
    }

    val (joinedDf, sJoin) = Snapshot.stage(spark, root, "join",
      Seq(sAreas.key, sCover.key, s"pages:$nPages")) {
      import spark.implicits._
      val cover = coverDf.as[AdminAreas.CoverRowEx]
      val polygons = areasDf.filter(col("complete"))
        .select(col("relationId").as("relation_id"), col("rings"))
      val pts = SpatialJoin.geoparsedPoints(Pages.generate(spark, nPages))
      SpatialJoin.containmentJoin(spark, pts, cover, polygons, p)
    }

    val (_, sTiles) = Snapshot.stage(spark, root, "tiles",
      Seq(sJoin.key, s"zoom:${SpatialJoin.TileZoom}")) {
      SpatialJoin.tiles(joinedDf, SpatialJoin.TileZoom)
    }

    val (_, sKnn) = Snapshot.stage(spark, root, "knn",
      Seq(sAreas.key, s"pages:$nPages")) {
      val pts = SpatialJoin.geoparsedPoints(Pages.generate(spark, nPages))
      SpatialJoin.knnCentres(spark, pts, SpatialJoin.centresOf(areasDf), p)
    }

    RunReport(Map(
      "admin_areas" -> sAreas, "cover" -> sCover,
      "join" -> sJoin, "tiles" -> sTiles, "knn" -> sKnn))
  }
}
