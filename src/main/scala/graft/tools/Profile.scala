package graft.tools

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.util.Obs

/** The dev profiler over the SparkEntry gates, on the CLI's session
  * (`local[$SPARK_GRAFT_CPUS]`, shuffle partitions = cores, AQE on, UTC):
  *
  *   runMain graft.tools.Profile plan <sfDir> <q1,q2,...|all>
  *     the formatted physical plan of each gate
  *   runMain graft.tools.Profile time <sfDir> [q1,q2,...]
  *     Bench's per-gate method: the untimed warm-ups, then each gate
  *     timed by `.count()` in alphabetical order inside an [[Obs]] span,
  *     one JSON line per gate (seconds, span totals, job ledger), then
  *     {"queries":{...},"total_query_sec":N}
  */
object Profile {

  /** Bench's untimed throwaway list, copied because `graft.Bench` is
    * frozen; its per-query section says why each gate is on it. */
  val Warmups: Seq[String] = Seq("q_page_tiles", "q_dedup_minhash_lsh",
    "q_embed_ann_lsh", "q_embed_ann_ivf_recall", "q_embed_ann_ivfpq_recall",
    "q_page_knn", "q_multimodal", "q_stream_dedup", "q_stream_dedup_ttl",
    "q_admin_incremental", "q_extract", "q_knn_centres", "q_knn_centres_k",
    "q_osc_upsert", "q_vectorize", "q_warc_roundtrip", "q_warc_cdx")

  def main(args: Array[String]): Unit = {
    def gates(list: String): Seq[String] =
      if (list == "all") SparkEntry.queries.keys.toSeq.sorted else list.split(",").toSeq
    val spark = graft.Cli.session()
    try args.toList match {
      case "plan" :: sfDir :: list :: Nil => plan(spark, sfDir, gates(list))
      case "time" :: sfDir :: Nil => time(spark, sfDir, gates("all"))
      case "time" :: sfDir :: list :: Nil => time(spark, sfDir, gates(list))
      case _ =>
        System.err.println("usage: graft.tools.Profile plan <sfDir> <q1,q2,...|all>\n" +
          "       graft.tools.Profile time <sfDir> [q1,q2,...]")
        sys.exit(2)
    } finally spark.stop()
  }

  /** Print the formatted physical plan of each gate in `names`. */
  def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    for (n <- names) {
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }

  /** Run `warmups` untimed, then time each gate of `names` in
    * alphabetical order; a gate that throws counts -1 rows. Prints one
    * JSON line per gate and the summary line; returns (gate, seconds). */
  def time(spark: SparkSession, sfDir: String, names: Seq[String],
      warmups: Seq[String] = Warmups): Seq[(String, Double)] = {
    for (q <- warmups)
      try SparkEntry.queries(q)(spark, sfDir).count()
      catch { case NonFatal(_) => }
    val mapper = new ObjectMapper()
    val results = names.sorted.map { name =>
      val (rows, m) = Obs.span(spark, name) {
        try SparkEntry.queries(name)(spark, sfDir).count()
        catch { case NonFatal(_) => -1L }
      }
      val sec = m.wallMs / 1e3
      val line = mapper.createObjectNode().put("query", name)
        .put("sec", sec).put("rows", rows)
      val totals = line.putObject("metrics")
      m.totals.foreach { case (k, v) => totals.put(k, v) }
      val ledger = line.putArray("ledger")
      m.ledger.foreach(j => ledger.addObject().put("job", j.id)
        .put("description", j.description).put("ms", j.wallMs).put("tasks", j.tasks))
      println(mapper.writeValueAsString(line))
      name -> sec
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"queries":$qs,"total_query_sec":${f"${results.map(_._2).sum}%.3f"}}""")
    results
  }
}
