package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a layer call made by the benchmark, or the pass
  * that encloses them. Spans of one pass share `pass`. Counters are
  * filled by the [[Tracer]]'s listeners and read after a bus drain. */
final class Span(val id: Int, val name: String, val parent: Option[Int],
    val pass: Int, val startNs: Long) {
  var endNs = 0L
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  /** Output rows of the join operators of the span's SQL executions. */
  var joinRows = 0L
  val queries = ArrayBuffer.empty[QueryExecution]

  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Each span runs its body
  * under its own Spark job group, so a [[SparkListener]] can attribute
  * every job, task, shuffle byte, spilled byte and CPU nanosecond to it;
  * a [[QueryExecutionListener]] keeps the span's executed plans, whose
  * SQL metrics give the join operators' output row counts. Spans are strictly
  * nested and sequential, and the listener bus is drained at every span
  * boundary, so whatever arrives between two boundaries belongs to the
  * innermost open span. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val pending = ArrayBuffer.empty[QueryExecution]
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()
  private var pass = 0

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) Option(byGroup.get(g)).foreach { s =>
        s.synchronized(s.jobs += 1)
        e.stageIds.foreach(byStage.put(_, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).filter(_ => e.taskMetrics != null).foreach { s =>
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.cpuNs += m.executorCpuTime
        }
      }
  }
  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pending.synchronized(pending += qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
  }

  def stop(): Unit = {
    org.apache.spark.perfbench.drainListenerBus(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
  }

  /** Start the next pass: spans opened from here on share its number. */
  def nextPass(): Int = { pass += 1; pass }

  private def settle(): Unit = {
    org.apache.spark.perfbench.drainListenerBus(sc)
    val got = pending.synchronized { val g = pending.toList; pending.clear(); g }
    open.headOption.foreach(_.queries ++= got)
  }

  private def setGroup(s: Option[Span]): Unit = s match {
    case Some(sp) => sc.setJobGroup(s"perfbench-span-${sp.id}", sp.name)
    case None => sc.clearJobGroup()
  }

  def span[T](name: String)(body: => T): T = {
    settle()
    val s = new Span(spans.length, name, open.headOption.map(_.id), pass, System.nanoTime())
    spans += s
    byGroup.put(s"perfbench-span-${s.id}", s)
    open = s :: open
    setGroup(Some(s))
    try body
    finally {
      s.endNs = System.nanoTime()
      settle()
      open = open.tail
      setGroup(open.headOption)
      for (qe <- s.queries; p <- Tracer.nodes(qe.executedPlan)
           if p.getClass.getSimpleName.contains("Join"))
        s.joinRows += p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
  }

  /** Self time: the span's duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent.contains(s.id)).map(_.seconds).sum

  /** Median over the spans with this name of `f` (default: duration). */
  def median(name: String, f: Span => Double = _.seconds): Double =
    Stats.median(spans.filter(_.name == name).map(f))

  /** The spans as JSON lines (name, start, end, parent, counters). */
  def toJsonLines: Seq[String] = spans.toSeq.map(s => Main.json(Map(
    "id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s),
    "jobs" -> s.jobs, "tasks" -> s.tasks, "shuffle_write_bytes" -> s.shuffleWriteBytes,
    "spill_bytes" -> s.spillBytes, "cpu_s" -> s.cpuNs / 1e9,
    "join_rows" -> s.joinRows)))
}

object Tracer {
  /** Every physical operator of an executed plan, looking through
    * adaptive wrappers, query stages and command results. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children
    }
    Iterator.single(p) ++ kids.iterator.flatMap(nodes)
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
