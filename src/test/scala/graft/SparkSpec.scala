package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class QueriesSmokeSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key exists in queries") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  for (q <- SparkEntry.all) {
    test(s"${q.name} runs non-empty at sf0.001") {
      val df = q.fn(spark, sf)
      assert(df.columns.distinct.length == df.columns.length,
        "duplicate column names break the driver compare")
      assert(df.count() > 0)
    }
  }
}
