package perfbench

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's main. Runs one workload for a fixed measuring time and
  * prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`.
  *
  * {{{
  * Main --workload <cron_small_files|query_library>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` attaches the
  * [[JobTracker]] on every other measured cycle, reports the per-layer
  * metrics and writes the spans to `<work>/spans.json`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String)

  final case class Metric(value: Double, unit: String)

  final case class Result(attempted: Long, failed: Long,
                          metrics: Seq[(String, Metric)], notes: Seq[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("work"))
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    GraftSession.quiet(
      GraftSession.builder("perfbench", s"local[$cores]", math.max(cores, 4))
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .getOrCreate())
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    new java.io.File(args.work).mkdirs()
    val t0 = System.nanoTime()
    val spark = session(args.work)
    val sessionS = seconds(t0)
    val spans = new Spans
    val res =
      try {
        val workload = args.workload match {
          case "cron_small_files" => new IngestWorkload(spark, args, spans)
          case "query_library" => new QueryWorkload(spark, args, spans)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        workload.run(sessionS)
      } finally {
        if (args.trace)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(args.work, "spans.json"), spans.toJson)
        spark.stop()
      }
    res.notes.foreach(n => System.err.println(s"perfbench: $n"))
    val ms = res.metrics.map { case (k, m) =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
      s""""$k": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": ${res.failed == 0}, "attempted": ${res.attempted}, """ +
      s""""failed": ${res.failed}, "metrics": {$ms}}""")
  }
}

/** Per-layer metric names and units, in the order BENCHMARK.json lists them. */
object Metrics {
  private val perJob: Seq[(String, String)] = Seq("jobs" -> "count",
    "job_wall_s" -> "s", "task_s" -> "s", "input_bytes" -> "bytes",
    "output_bytes" -> "bytes", "shuffle_bytes" -> "bytes", "gc_s" -> "s",
    "failed_tasks" -> "count")

  /** Every workload reports all of these; a layer a workload does not
    * touch reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.run_s" -> "s",
    "reports.process_summary_s" -> "s",
    "reports.unprocessed_by_table_s" -> "s",
    "reports.ingestion_summary_s" -> "s",
    "ops.setup_s" -> "s", "ops.plan_s" -> "s", "ops.exec_s" -> "s") ++
    JobTracker.Layers.flatMap(l => perJob.map { case (k, u) => s"$l.$k" -> u }) ++ Seq(
    "ingest.bytes_read_per_input_byte" -> "ratio",
    "ingest.files_landed" -> "count",
    "ingest.files_seen" -> "count",
    "ingest.files_seen_mismatch_batches" -> "count",
    "ingest_files_per_s" -> "1/s",
    "ingest_rows_per_s" -> "1/s",
    "stored_bytes_per_input_byte" -> "ratio",
    "report_p50_s" -> "s",
    "library_pass_s" -> "s",
    "logs.history_rows_per_live_row" -> "ratio",
    "logs.parquet_files" -> "count",
    "logs.compactions" -> "count",
    "logs.compact_s" -> "s",
    "ops.setup_jobs" -> "count",
    "ops.exec_jobs" -> "count",
    "failed_ops_ratio" -> "ratio",
    "traced_cycles" -> "count",
    "tracing_overhead_ratio" -> "ratio")
}

/** Heap the JVM still holds after a full collection, in MB. Collecting
  * between cycles also starts every cycle from the same clean heap. The
  * second collection frees what Spark's cleaner released after the first.
  */
object Heap {
  def afterGcMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}

/** One workload: set-up, a closed measuring loop with one client, output
  * checks, and the metrics. Cycles alternate traced and untraced in a
  * traced run, so the same run measures the tracing overhead.
  */
abstract class Workload(spark: SparkSession, args: Main.Args, spans: Spans) {
  import Main.Metric

  /** Everything before measuring: inputs, control plane and an untimed
    * warm-up (the JVM's first pass over the workload's code pays class
    * loading, JIT and code generation). Returns its seconds; `setup_s`
    * adds the session start.
    */
  def setUp(): Double

  /** One closed-loop cycle; returns (batch seconds, cycle seconds). */
  def cycle(i: Int): (Double, Double)

  /** Output checks after the measuring loop: (attempted, failed) ops. */
  def check(): (Long, Long)

  /** Workload-specific per-layer metrics over the traced cycles. */
  def workloadMetrics(cycles: Seq[Int]): Seq[(String, Metric)]

  def notes: Seq[String] = Seq.empty

  private val tracker = new JobTracker(spans)
  private var listening = false
  private val cycleLog = mutable.ArrayBuffer.empty[(Int, Boolean, Span)]

  private def listen(on: Boolean): Unit = if (on != listening) {
    if (on) spark.sparkContext.addSparkListener(tracker)
    else {
      // let the bus deliver the events of the work that just returned
      val deadline = System.currentTimeMillis() + 5000
      while (!tracker.drained(150) && System.currentTimeMillis() < deadline)
        Thread.sleep(25)
      spark.sparkContext.removeSparkListener(tracker)
    }
    listening = on
  }

  def cycleSpans(cycles: Seq[Int]): Seq[Span] =
    cycleLog.collect { case (n, _, s) if cycles.contains(n) => s }.toSeq

  private val setupNotes = mutable.ArrayBuffer.empty[String]

  /** Runs a set-up step in a span; returns its seconds. */
  protected def step(name: String)(body: => Unit): Double = {
    val (_, s) = spans.timed("setup", name)(body)
    setupNotes += f"$name ${s.seconds}%.2f s"
    s.seconds
  }

  def run(sessionS: Double): Main.Result = {
    val setupS = sessionS + setUp()
    var peakHeap = Heap.afterGcMb()
    val batches = mutable.ArrayBuffer.empty[Double]
    val cycles = mutable.ArrayBuffer.empty[Double]
    var measured = 0.0
    var i = 0
    // a traced run alternates traced (even) and untraced (odd) cycles; the
    // overhead ratio compares cycles 2 and 1, past cycle 0 (which still
    // warms up)
    while (measured < args.seconds || (args.trace && i < 3)) {
      val traced = args.trace && i % 2 == 0
      listen(traced)
      val ((b, c), span) = spans.timed("cycle", s"c$i")(cycle(i))
      cycleLog += ((i, traced, span))
      batches += b
      cycles += c
      measured += span.seconds
      peakHeap = math.max(peakHeap, Heap.afterGcMb())
      i += 1
    }
    listen(false)
    val ((attempted, failed), checkSpan) = spans.timed("check")(check())
    val failedRatio = failed.toDouble / math.max(1L, attempted)
    val metrics =
      if (!args.trace) Seq(
        "setup_s" -> Metric(setupS, "s"),
        "batch_p50_s" -> Metric(Main.median(batches.toSeq), "s"),
        "cycle_p50_s" -> Metric(Main.median(cycles.toSeq), "s"),
        "peak_heap_mb" -> Metric(peakHeap, "MB"),
        "ok_ops_ratio" -> Metric(1.0 - failedRatio, "ratio"))
      else {
        val traced = cycleLog.collect { case (n, true, _) => n }.toSeq
        val untraced = cycleLog.collect { case (n, false, _) => n }.toSeq
        val overhead = Main.median(cycleSpans(traced.filter(_ > 0)).map(_.seconds)) /
          Main.median(cycleSpans(untraced).map(_.seconds))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(args.work, "jobs.json"),
          tracker.snapshot.map(j =>
            s"""{"job":${j.id},"layer":"${j.layer}","how":"${j.how}","start_ms":${j.startMs},""" +
              s""""end_ms":${j.endMs},"task_s":${j.taskS},"input_bytes":${j.inputBytes},""" +
              s""""shuffle_bytes":${j.shuffleBytes},"compact":${j.compact}}""")
            .mkString("[\n", ",\n", "\n]\n"))
        val got = (Seq(
          "tracing_overhead_ratio" -> Metric(overhead, "ratio"),
          "failed_ops_ratio" -> Metric(failedRatio, "ratio"),
          "traced_cycles" -> Metric(traced.size.toDouble, "count")) ++
          layerMetrics(traced) ++ workloadMetrics(traced)).toMap
        Metrics.PerLayer.map { case (k, u) => k -> got.getOrElse(k, Metric(0.0, u)) }
      }
    Main.Result(attempted, failed, metrics,
      notes :+ (s"cycles ${cycles.map(c => f"$c%.2f").mkString(", ")} s; batches " +
        batches.map(b => f"$b%.2f").mkString(", ") + " s") :+
        (f"measured $i cycles in $measured%.2f s; set-up: session $sessionS%.2f s, " +
        setupNotes.mkString(", ") + f"; checks ${checkSpan.seconds}%.2f s"))
  }

  /** Jobs that started inside the given cycles. */
  def jobsOf(cycles: Seq[Int]): Seq[JobTracker#Job] = {
    val wins = cycleSpans(cycles)
    tracker.snapshot.filter(j => wins.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs))
  }

  /** Jobs of the given cycles that started inside a span named `name`. */
  def jobsIn(cycles: Seq[Int], name: String): Seq[JobTracker#Job] = {
    val wins = spans.named(name)
    jobsOf(cycles).filter(j => wins.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs))
  }

  /** Per-layer job metrics, per traced cycle. */
  private def layerMetrics(cycles: Seq[Int]): Seq[(String, Metric)] = {
    val n = math.max(1, cycles.size).toDouble
    val byLayer = jobsOf(cycles).groupBy(_.layer)
    JobTracker.Layers.flatMap { l =>
      val js = byLayer.getOrElse(l, Seq.empty)
      Seq(
        s"$l.jobs" -> Metric(js.size / n, "count"),
        s"$l.job_wall_s" -> Metric(js.map(j => (j.endMs - j.startMs) / 1000.0).sum / n, "s"),
        s"$l.task_s" -> Metric(js.map(_.taskS).sum / n, "s"),
        s"$l.input_bytes" -> Metric(js.map(_.inputBytes).sum / n, "bytes"),
        s"$l.output_bytes" -> Metric(js.map(_.outputBytes).sum / n, "bytes"),
        s"$l.shuffle_bytes" -> Metric(js.map(_.shuffleBytes).sum / n, "bytes"),
        s"$l.gc_s" -> Metric(js.map(_.gcS).sum / n, "s"),
        s"$l.failed_tasks" -> Metric(js.map(_.failedTasks).sum / n, "count"))
    }
  }
}
