package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.jobs.{AdminAreas, SpatialJoin}
import graft.pbf.PbfRead
import graft.synth.Pages

/** Stream ≡ batch for the flagship pipeline: the SAME windowedTiles
  * function over a file stream of pages and over the batch DataFrame
  * must agree on every emitted window. */
class StreamingSpatialJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val fixture = "/root/reference/tests/fixtures/niue-230612.osm.pbf"

  test("streaming windowed tiles ≡ batch on the same pages") {
    val areas = AdminAreas.build(spark, PbfRead.read(spark, fixture))
    assertStreamMatchesBatch(SpatialJoin.prepare(spark, areas), "wintiles")
  }

  test("streaming windowed tiles ≡ batch over a fixture-free grid (kernel path)") {
    // 6 × 6 rectangles with gaps over the box the page generator plants
    // its coordinates in: the stream runs the containment kernel over
    // the prepared cover's broadcast index in every micro-batch
    import spark.implicits._
    val (dLat, dLon) = ((Pages.LatHi - Pages.LatLo) / 6, (Pages.LonHi - Pages.LonLo) / 6)
    val areas = for (i <- 0 until 6; j <- 0 until 6) yield {
      val (la, lo) = (Pages.LatLo + i * dLat, Pages.LonLo + j * dLon)
      val (lb, hi) = (la + dLat - dLat / 9, lo + dLon - dLon / 7)
      AdminAreas.AdminArea(100L + 6 * i + j, 8, s"g$i-$j",
        Seq(Seq(lo, la, hi, la, hi, lb, lo, lb)), Some((la + lb) / 2),
        Some((lo + hi) / 2), complete = true)
    }
    val prep = SpatialJoin.prepare(spark, spark.createDataset(areas))
    assert(prep.coverInfo.index.isDefined)
    assertStreamMatchesBatch(prep, "wintiles_grid")
  }

  private def assertStreamMatchesBatch(prep: SpatialJoin.Prepared, name: String): Unit = {
    val pages = Pages.generate(spark, 20000)
    val dir = Files.createTempDirectory("graft-stream-pages").toString
    // two files → two micro-batches, so the watermark actually advances
    pages.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
      .coalesce(1).write.parquet(s"$dir/in")
    pages.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream.schema(pages.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = StreamingSpatialJoin.windowedTiles(spark, stream, prep)
      .writeStream.outputMode("append").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.sql(s"SELECT * FROM $name")
    val batch = StreamingSpatialJoin.windowedTiles(spark, pages, prep)
    // append mode emits only watermark-closed windows; every emitted
    // row must match the batch computation exactly
    assert(streamed.count() > 50, "stream must emit a real number of windows")
    val keys = Seq("w_start", "z", "x", "y", "relation_id")
    val joined = streamed.as("s").join(batch.as("b"), keys)
    assert(joined.count() == streamed.count(),
      "every streamed window exists in the batch result")
    assert(joined.filter(col("s.n_pages") =!= col("b.n_pages")).count() == 0,
      "per-window tile counts must agree")
  }
}
