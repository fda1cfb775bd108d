package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.ShuffledJoin
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.geo.Geom

/** Many-polygon containment join: a 32×32 admin grid (1,024 areas,
  * multi-thousand-row cover — the regime where the polygon side is no
  * longer a toy) joined against deterministic points, pinned to the
  * exact plain-Scala PIP oracle, with the plan asserted never to
  * degrade to a cartesian or nested-loop join, and again with
  * a hot-cell cluster on the shuffled path, where AQE splits the skewed
  * join partition. */
class SpatialJoinScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  import SpatialJoinWorlds.{gridAreas => areas, gridPoints => points, hotPoints}

  private object Plans extends AdaptiveSparkPlanHelper

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("1,024-polygon grid join matches the exact PIP oracle (20k points)") {
    val p = SpatialJoin.Params(coverMaxLevel = 11)
    val prep = SpatialJoin.prepare(spark, spark.createDataset(areas), p)
    val nCover = prep.cover.count()
    info(s"cover rows: $nCover")
    assert(nCover > 4000, "the cover must be beyond toy size")
    val ringArr = areas.map(a => a.relationId -> a.rings.map(_.toArray).toArray)
    def oracle(pts: Seq[(String, Long, Long)]) = (for {
      (url, lat7, lon7) <- pts
      (rel, rings) <- ringArr
      if Geom.pointInRings(lon7, lat7, rings)
    } yield (url, rel)).toSet
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

    val joined = SpatialJoin.containmentJoin(spark, points.toDF("url", "lat7", "lon7"),
      prep.cover, prep.polygons, p)
    val plan = joined.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"plan degraded:\n$plan")
    val got = pairs(joined.select("url", "relation_id"))
    val expected = oracle(points)
    assert(expected.size > 10000, s"oracle hit count ${expected.size} too small")
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")

    // the hot cluster on the shuffled path: skew is AQE's to split, with
    // thresholds lowered to this input's size
    withConf(
        "spark.sql.shuffle.partitions" -> "16",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k") {
      val skewed = SpatialJoin.containmentJoin(spark,
        (points ++ hotPoints).toDF("url", "lat7", "lon7"), prep.cover,
        prep.polygons, p.copy(coverBroadcastMaxRows = 0L))
        .select("url", "relation_id")
      val gotSkewed = pairs(skewed)
      val expectedSkewed = oracle(points ++ hotPoints)
      assert(gotSkewed == expectedSkewed, s"missing=${(expectedSkewed -- gotSkewed)
        .take(5)} extra=${(gotSkewed -- expectedSkewed).take(5)}")
      val finalPlan = skewed.queryExecution.executedPlan
      assert(Plans.collect(finalPlan) { case j: ShuffledJoin if j.isSkewJoin => j }
        .nonEmpty, s"no skew-split join in the final plan:\n$finalPlan")
    }
  }
}
