package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class OsmQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("history stream stats are total on an empty stream") {
    assert(OsmQueries.streamStats(
      spark.emptyDataset[graft.model.OsmEntity].toDF()) == ((0L, 0L, 0L)))
  }

  test("history stream stats count rows, multi-version ids and deletions") {
    // 151 rows over 63 ids, 48 of them multi-version, 14 invisible rows
    // (the q_osm_roundtrip_history oracle values)
    assert(OsmQueries.streamStats(OsmQueries.historyFixture(spark).toDF()) ==
      ((151L, 48L, 14L)))
  }
}
