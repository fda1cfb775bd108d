package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Smoke test of the dev profiler's two commands on the shared session. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val gates = Seq("q_anti_join", "q_agg_group")

  private def captured(body: => Unit): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(body)
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("plan prints each gate's formatted physical plan") {
    val lines = captured(Profile.plan(spark, sf, gates))
    assert(lines.count(_.startsWith("===== ")) == 2)
    assert(lines.contains("===== q_agg_group =====") && lines.exists(_.contains("Scan parquet")))
  }

  test("time prints one span line per gate, alphabetically, then the summary") {
    var results = Seq.empty[(String, Double)]
    val lines = captured { results = Profile.time(spark, sf, gates, warmups = Nil) }
    assert(results.map(_._1) == gates.sorted && results.forall(_._2 > 0))
    val json = lines.filter(_.startsWith("{")).map(new ObjectMapper().readTree(_))
    assert(json.length == 3)
    for ((line, gate) <- json.take(2).zip(gates.sorted)) {
      assert(line.get("query").asText == gate)
      assert(line.get("rows").asLong > 0)
      assert(line.get("metrics").get("jobs").asLong >= 1)
      assert(line.get("metrics").get("tasks").asLong >= 1)
      assert(line.get("ledger").size() >= 1)
      assert(line.get("ledger").get(0).get("description").asText == gate)
    }
    assert(json(2).get("queries").size() == 2 && json(2).has("total_query_sec"))
    assert(!spark.sparkContext.isStopped)
  }
}
