package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of one workload run, started by perfbench/run.py:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <dir> --cores <n>
  *
  * Sequence: contention sentinel, session start, [[SetupReps]] set-ups
  * (each into its own directory; set-up time uses their median; the last
  * one's inputs are used), at least [[WarmupPasses]] checked warm-up
  * passes for at least [[WarmupSeconds]], then a closed loop of checked
  * passes for `--seconds` and at least [[MinPasses]] passes (one client:
  * the next pass starts when the previous one is done). With `--trace 1`,
  * traced passes follow and the per-layer metrics are printed instead of
  * the end-to-end ones. The run ends with live heap after repeated full
  * GCs and the closing sentinel. Prints one `PERFBENCH_RESULT {json}`
  * line. */
object Main {
  val SetupReps = 3
  val TracedPasses = 3
  /** Warm-up runs at least this many checked passes, and more until
    * [[WarmupSeconds]] have passed: passes keep gaining from the JIT after
    * the first one. */
  val WarmupPasses = 2
  val WarmupSeconds = 4.0
  val MinPasses = 3
  val MaxWindowS = 90.0
  private val MiB = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val out = Paths.get(opts("out"))
    val cores = opts("cores").toInt
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val sentinelStart = Sentinel.measure(cores)
    val (spark, sessionS) = Workloads.seconds(session(cores, work))
    try {
      val w = Workloads(workload, spark, seed)
      val setupS = (0 until SetupReps).map(k =>
        Workloads.seconds(w.setup(work.resolve(s"setup-$k")))._2)
      var attempted = 0
      val failures = scala.collection.mutable.ArrayBuffer.empty[String]
      val checkS = scala.collection.mutable.ArrayBuffer.empty[Double]
      def checked(p: => Pass): Option[Pass] = {
        attempted += 1
        try {
          val (r, s) = Workloads.seconds(p)
          // wall time outside the timed parts: the output check
          checkS += s - (if (r.parts.isEmpty) r.opS else r.parts.values.sum)
          r.failure.foreach(f => failures += f)
          Some(r).filter(_.failure.isEmpty)
        } catch { case e: Exception =>
          failures += failure(e)
          None
        }
      }
      val (_, warmS) = Workloads.seconds {
        val w0 = System.nanoTime()
        var n = 0
        while (n < WarmupPasses || (System.nanoTime() - w0) / 1e9 < WarmupSeconds) {
          checked(w.pass())
          n += 1
        }
      }

      val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      // failing passes do not count towards MinPasses; MaxWindowS stops a
      // run whose passes keep failing
      while ((passes.length < MinPasses && elapsed < MaxWindowS) || elapsed < seconds)
        checked(w.pass()).foreach(passes += _)
      val windowS = (System.nanoTime() - t0) / 1e9
      val opMedian = Stats.median(passes.map(_.opS).toSeq)

      val layer: Map[String, Double] =
        if (!trace) Map.empty
        else {
          val tr = new Tracer(spark)
          tr.start()
          for (_ <- 0 until TracedPasses) {
            tr.nextPass()
            attempted += 1
            try tr.span(s"$workload.pass")(w.tracedPass(tr))
            catch { case e: Exception => failures += failure(e) }
          }
          tr.stop()
          val traceFile = out.resolve(s"trace-$workload-seed$seed.jsonl")
          Files.createDirectories(out)
          Files.write(traceFile, tr.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
          layerMetrics(spark, seed, tr, w, untracedMedians(passes.toSeq))
        }

      val heapMb = liveHeapMb()
      val sentinelEnd = Sentinel.measure(cores)

      val setupTotal = sessionS + Stats.median(setupS) + warmS
      val e2e = Map("setup_s" -> setupTotal, "pass_s" -> opMedian, "live_heap_mb" -> heapMb)
      val parts = untracedMedians(passes.toSeq) - "pass_s"
      val info = Map[String, Any](
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "passes" -> passes.length, "window_s" -> windowS,
        "pass_s_samples" -> passes.map(_.opS).toSeq,
        "pass_s_tail" -> tail(passes.map(_.opS).toSeq),
        "check_s" -> Stats.median(checkS),
        "session_s" -> sessionS, "setup_reps_s" -> setupS, "warmup_s" -> warmS,
        "rates" -> (if (passes.isEmpty) Map.empty else w.rates(untracedMedians(passes.toSeq))),
        "sentinel_start_s" -> sentinelStart, "sentinel_end_s" -> sentinelEnd,
        "contended" -> Sentinel.contended(sentinelStart, sentinelEnd),
        "failures" -> failures.take(5).toSeq) ++ parts
      val failed = failures.length
      val metrics = if (trace) layer else e2e
      println("PERFBENCH_RESULT " + json(Map(
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics, "info" -> info)))
    } finally spark.stop()
  }

  def json(v: Map[String, Any]): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  private def failure(e: Exception): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** Median `pass_s` and median of each named part over the passes. */
  private def untracedMedians(passes: Seq[Pass]): Map[String, Double] =
    passes.headOption.map(_.parts.keys.toSeq).getOrElse(Nil)
      .map(n => n -> Stats.median(passes.map(_.parts(n)))).toMap +
      ("pass_s" -> Stats.median(passes.map(_.opS)))

  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The highest percentile with at least 10 samples beyond it, with
    * the sample count; below 20 samples that is the median. */
  private def tail(xs: Seq[Double]): Map[String, Any] = {
    val n = xs.length
    val pct = if (n >= 20) math.floor(100.0 * (n - 10) / n).toInt else 50
    val s = xs.sorted
    val v = if (s.isEmpty) 0.0 else s(math.min(n - 1, math.ceil(pct / 100.0 * n).toInt - 1 max 0))
    Map("percentile" -> pct, "value" -> v, "samples" -> n)
  }

  /** Heap in use once full collections stop shrinking it. Each one makes
    * more dropped checkpoints and caches weakly reachable, Spark's cleaner
    * then releases their blocks, and the next collection reclaims them. */
  private def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MiB
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (prev - cur > 1.0 && rounds < 8) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  /** Per-span medians over the traced passes (5 stats), as marginals
    * along each ladder; the ratios; and the tracing overheads. Every
    * workload's names are emitted, with 0 for the spans this workload
    * does not have, so each traced run reports the same metric set. */
  private def layerMetrics(spark: SparkSession, seed: Long, tr: Tracer, w: Workload,
      untraced: Map[String, Double]): Map[String, Double] = {
    def stats(s: Span): Seq[Double] =
      Seq(s.seconds, s.jobs.toDouble, s.tasks.toDouble, s.shuffleWriteBytes / MiB,
        s.spillBytes / MiB)
    def med(name: String): Seq[Double] = {
      val ss = tr.spans.filter(_.name == name).map(stats).toSeq
      if (ss.isEmpty) Seq.fill(5)(0.0) else ss.transpose.map(Stats.median)
    }
    val own = w.ladders.flatMap { ladder =>
      val meds = ladder.map(med)
      ladder.indices.map { i =>
        val prev = if (i == 0) Seq.fill(5)(0.0) else meds(i - 1)
        ladder(i) -> meds(i).zip(prev).map { case (a, b) => a - b }
      }
    }.toMap
    val all = Workloads.names.map(Workloads(_, spark, seed))
    val spans = all.flatMap(_.ladders.flatten).flatMap { name =>
      val v = own.getOrElse(name, Seq.fill(5)(0.0))
      StatNames.zip(v).map { case (stat, x) => s"$name.$stat" -> x }
    }
    val derived = w.derived(tr, untraced)
    (spans ++ Workloads.derivedNames.map(n => n -> derived.getOrElse(n, 0.0))).toMap
  }

  val StatNames = Seq("self_s", "jobs", "tasks", "shuffle_mb", "spill_mb")
}

/** Contention sentinel: one fixed integer-mixing job on every core, timed
  * at the start and end of a run. A window whose two readings disagree by
  * more than [[Tolerance]] had its CPUs shared with something else. */
object Sentinel {
  val Tolerance = 1.25
  private val Iterations = 40000000

  private def spin(): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < Iterations) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  /** Median of three timings of all cores spinning at once. */
  def measure(cores: Int): Double = Stats.median((0 until 3).map { _ =>
    val t0 = System.nanoTime()
    val ts = (0 until cores).map(_ => new Thread(() => { spin(); () }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  })

  def contended(a: Double, b: Double): Boolean =
    math.max(a, b) / math.min(a, b) > Tolerance
}
