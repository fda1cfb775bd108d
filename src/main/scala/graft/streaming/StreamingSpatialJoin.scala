package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{GeoFunctions => G}
import graft.jobs.SpatialJoin

/** The north-rule flagship under Structured Streaming: a pages STREAM
  * (url, warc_ts, html, text, lang) is geoparsed and containment-joined
  * against the STATIC admin cover — the join is stateless (the polygon
  * side broadcasts; only `warc_ts` rides through as extra state-free
  * payload), so the exact batch operator runs unchanged — then
  * aggregated into watermarked tumbling-window z/x/y tile counts.
  *
  * The same function works on a batch DataFrame (identical plan minus
  * the watermark bookkeeping); the stream ≡ batch property is asserted
  * in StreamingSpatialJoinSpec. */
object StreamingSpatialJoin {

  def windowedTiles(spark: SparkSession, pages: DataFrame,
      prep: SpatialJoin.Prepared,
      p: SpatialJoin.Params = SpatialJoin.Params(),
      windowLen: String = "7 days", watermark: String = "14 days"): DataFrame = {
    val pts = pages
      .select(col("url"), col("warc_ts"), G.geoparse_packed(col("text")).as("pk"))
      .filter(col("pk").isNotNull)
      .select(col("url"), col("warc_ts"),
        G.packed_lat7(col("pk")).as("lat7"), G.packed_lon7(col("pk")).as("lon7"))
    val joined = SpatialJoin.containmentJoin(spark, pts, prep.cover,
      prep.polygons, p, Some(prep.coverInfo))
    SpatialJoin.tiles(joined.withWatermark("warc_ts", watermark),
        SpatialJoin.TileZoom, window(col("warc_ts"), windowLen))
      .withColumn("window", col("window.start"))
      .withColumnRenamed("window", "w_start")
  }
}
