package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The run-metrics channel (SURVEY.md A11; the reference prints a
  * formatted count every 10M elements, src/lib.rs:58-61,104-113).
  * `span(spark, name) { … }` labels every job its body submits: a local
  * property naming the span, and the job description `name`. One
  * SparkListener per SparkContext reads each job's properties and
  * credits the job, and the tasks of its stages, to that span and to
  * every span enclosing it. Local properties are per thread (a thread
  * created inside a span starts in it), so a span's totals include its
  * nested spans but never the work of spans running at the same time on
  * other threads. Job groups are left to the caller. */
object Obs {

  /** One finished job of a span. */
  final case class Job(id: Int, description: String, wallMs: Long, tasks: Long)

  /** A span's wall time and totals over the jobs credited to it, plus
    * their ledger in completion order. */
  final case class Metrics(wallMs: Long, jobs: Long, tasks: Long,
      recordsRead: Long, recordsWritten: Long,
      shuffleBytesRead: Long, shuffleBytesWritten: Long,
      spillBytes: Long, executorCpuNs: Long, ledger: Seq[Job]) {
    /** The Long fields by name, sorted, as the CLI and manifests print them. */
    def totals: Seq[(String, Long)] = productElementNames.zip(productIterator)
      .collect { case (k, v: Long) => k -> v }.toSeq.sorted
  }

  /** Local property holding the id of the innermost open span. */
  val SpanProperty = "graft.obs.span"
  private val DescriptionProperty = "spark.job.description"
  /** An outermost span prints a progress line every this many records read. */
  private val ReportEvery = 10000000L

  private final class Span(parent: Option[Span]) {
    /** This span and its enclosing spans, innermost first. */
    val chain: List[Span] = this :: parent.fold(List.empty[Span])(_.chain)
    private var jobs, tasks, recordsRead, recordsWritten = 0L
    private var shuffleRead, shuffleWritten, spill, cpuNs = 0L
    private val ledger = mutable.ArrayBuffer.empty[Job]
    private var nextReport = ReportEvery

    def jobStarted(): Unit = synchronized { jobs += 1 }
    def jobEnded(j: Job): Unit = synchronized { ledger += j }
    def taskEnded(m: TaskMetrics): Unit = synchronized {
      tasks += 1
      recordsRead += m.inputMetrics.recordsRead
      recordsWritten += m.outputMetrics.recordsWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWritten += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
      cpuNs += m.executorCpuTime
      if (parent.isEmpty && recordsRead >= nextReport) {
        nextReport = (recordsRead / ReportEvery + 1) * ReportEvery
        println(f"[graft-progress] $recordsRead%,d records read, " +
          f"${shuffleRead / 1048576}%,d MiB shuffled, ${cpuNs / 1e9}%.1f s cpu")
      }
    }
    def metrics(wallMs: Long): Metrics = synchronized {
      Metrics(wallMs, jobs, tasks, recordsRead, recordsWritten,
        shuffleRead, shuffleWritten, spill, cpuNs, ledger.toList)
    }
  }

  /** A job credited to the spans of `chain`, while it runs. */
  private final class RunningJob(val chain: List[Span], val description: String,
      val startMs: Long) { var tasks = 0L }

  /** Spark delivers one listener's events on one thread, so only `open`,
    * which span bodies update, needs to be concurrent. */
  private final class Listener extends SparkListener {
    val open = new ConcurrentHashMap[String, Span]()
    private val jobs = mutable.HashMap.empty[Int, RunningJob]
    private val stages = mutable.HashMap.empty[Int, RunningJob]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      for (props <- Option(e.properties);
           span <- Option(props.getProperty(SpanProperty)).flatMap(id => Option(open.get(id)))) {
        val j = new RunningJob(span.chain,
          Option(props.getProperty(DescriptionProperty)).getOrElse(""), e.time)
        jobs(e.jobId) = j
        e.stageIds.foreach(stages(_) = j)
        j.chain.foreach(_.jobStarted())
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) stages.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.chain.foreach(_.taskEnded(e.taskMetrics))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { j =>
        stages.filterInPlace((_, s) => s ne j)
        val done = Job(e.jobId, j.description, e.time - j.startMs, j.tasks)
        j.chain.foreach(_.jobEnded(done))
      }
  }

  private val listeners = new SessionCache[Listener]
  private val nextId = new AtomicLong

  private def listener(spark: SparkSession): Listener = listeners.get(spark) {
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Run `body` as the span `name`; returns its result and the totals of
    * the jobs it ran, read after the listener bus is drained. */
  def span[T](spark: SparkSession, name: String)(body: => T): (T, Metrics) = {
    val sc = spark.sparkContext
    val l = listener(spark)
    val outer = sc.getLocalProperty(SpanProperty)
    val outerDescription = sc.getLocalProperty(DescriptionProperty)
    val id = nextId.incrementAndGet().toString
    val s = new Span(Option(outer).flatMap(o => Option(l.open.get(o))))
    l.open.put(id, s)
    sc.setLocalProperty(SpanProperty, id)
    sc.setLocalProperty(DescriptionProperty, name)
    try {
      val t0 = System.nanoTime()
      val r = body
      val wallMs = (System.nanoTime() - t0) / 1000000
      org.apache.spark.graftmetrics.drainListenerBus(sc)
      (r, s.metrics(wallMs))
    } finally {
      l.open.remove(id)
      sc.setLocalProperty(SpanProperty, outer)
      sc.setLocalProperty(DescriptionProperty, outerDescription)
    }
  }
}
