package graft.util

import java.util.concurrent.{Callable, CountDownLatch, Executors}

import org.scalatest.funsuite.AnyFunSuite

/** The span metrics channel (SURVEY.md A11): a span counts exactly the
  * jobs its body runs, its own nested spans included, and never the
  * jobs of spans running at the same time on other threads. */
class ObsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** One job of exactly `tasks` tasks, each sleeping so that concurrent
    * jobs overlap. */
  private def job(tasks: Int): Long =
    spark.sparkContext.parallelize(1 to tasks, tasks)
      .map { x => Thread.sleep(50); x }.count()

  test("sequential spans get separate totals") {
    val dir = java.nio.file.Files.createTempDirectory("graft-obs").resolve("t").toString
    spark.range(0, 6000, 1, 4).selectExpr("id % 3 AS k").write.parquet(dir)
    val (n, a) = Obs.span(spark, "a") {
      spark.read.parquet(dir).groupBy("k").count().collect().length
    }
    val (_, b) = Obs.span(spark, "b")(job(3))
    assert(n == 3)
    assert(a.jobs >= 1 && a.recordsRead >= 6000L)
    assert(a.shuffleBytesWritten > 0L && a.shuffleBytesRead > 0L)
    assert(a.executorCpuNs > 0L && a.wallMs > 0L)
    assert(a.ledger.nonEmpty && a.ledger.forall(_.description == "a"))
    assert(a.ledger.map(_.tasks).sum == a.tasks)
    assert(b.jobs == 1 && b.tasks == 3 && b.recordsRead == 0L)
    assert(b.ledger.map(j => (j.description, j.tasks)) == Seq(("b", 3L)))
    // the totals the CLI line and the snapshot manifests print
    assert(b.totals.map(_._1) == Seq("executorCpuNs", "jobs", "recordsRead",
      "recordsWritten", "shuffleBytesRead", "shuffleBytesWritten",
      "spillBytes", "tasks", "wallMs"))
  }

  test("an outer span includes its nested span") {
    val ((_, inner), outer) = Obs.span(spark, "outer") {
      job(2)
      Obs.span(spark, "inner")(job(3))
    }
    assert(inner.jobs == 1 && inner.tasks == 3)
    assert(outer.jobs == 2 && outer.tasks == 5)
    assert(outer.ledger.map(_.description) == Seq("outer", "inner"))
    // the description and the span property are restored on exit
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
    assert(spark.sparkContext.getLocalProperty(Obs.SpanProperty) == null)
  }

  test("two spans started together on two threads each count only their own jobs") {
    def work(name: String): Obs.Metrics =
      Obs.span(spark, name) { (1 to 3).foreach(_ => job(4)) }._2
    val alone = work("alone")
    assert(alone.jobs == 3 && alone.tasks == 12)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val go = new CountDownLatch(1)
      val runs = Seq("left", "right").map { name =>
        pool.submit(new Callable[Obs.Metrics] {
          def call(): Obs.Metrics = { go.await(); work(name) }
        })
      }
      go.countDown()
      for ((m, name) <- runs.map(_.get()).zip(Seq("left", "right"))) {
        assert(m.jobs == alone.jobs && m.tasks == alone.tasks, name)
        assert(m.ledger.forall(_.description == name), name)
      }
    } finally pool.shutdownNow()
  }
}
