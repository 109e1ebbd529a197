package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** A span around one call the benchmark makes into an engine layer.
  * Times are wall-clock milliseconds so they compare with Spark
  * listener event times.
  */
final case class Span(id: Int, parent: Int, name: String, tag: String,
                      startMs: Long, startNs: Long, var endMs: Long = -1L,
                      var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder; the benchmark makes its calls from one thread. */
final class Spans {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def apply[T](name: String, tag: String = "")(body: => T): T =
    timed(name, tag)(body)._1

  /** Runs `body` inside a new span and returns the closed span too. */
  def timed[T](name: String, tag: String = "")(body: => T): (T, Span) = {
    val s = synchronized {
      val s = Span(all.size, open.headOption.fold(-1)(_.id), name, tag,
        System.currentTimeMillis(), System.nanoTime())
      all += s
      open = s :: open
      s
    }
    try (body, s)
    finally synchronized {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  def recorded: Seq[Span] = synchronized(all.toSeq)

  def named(name: String): Seq[Span] = synchronized(all.filter(_.name == name).toSeq)

  /** Innermost span whose interval holds `ms`. */
  def at(ms: Long): Option[Span] = synchronized {
    all.filter(s => s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs))
      .maxByOption(_.startNs)
  }

  def toJson: String = recorded.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","tag":"${s.tag}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Assigns every Spark job to an engine layer and sums its task metrics.
  *
  * A job belongs to the innermost `graft.<layer>` frame of its call site
  * (the result stage's `details`). Jobs Spark starts on its own threads
  * (broadcasts, adaptive re-planning) carry no such frame; they go to the
  * call site of their SQL execution (`spark.sql.execution.id`, then the
  * root execution), and failing that to the benchmark span open when the
  * job started. Anything left is `unattributed`.
  */
final class JobTracker(spans: Spans) extends SparkListener {

  final class Job(val id: Int, val startMs: Long, val layer: String,
                  val how: String, val compact: Boolean) {
    @volatile var endMs: Long = -1L
    var taskS, gcS = 0.0
    var inputBytes, outputBytes, shuffleBytes, failedTasks = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val execSite = mutable.HashMap.empty[Long, String]
  @volatile private var lastEventMs = System.currentTimeMillis()

  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)

  /** True once every started job has ended and the bus has been quiet
    * for `quietMs`: the listener has then seen all events of the work
    * that returned before this call.
    */
  def drained(quietMs: Long): Boolean = synchronized {
    jobs.valuesIterator.forall(_.endMs >= 0) &&
      System.currentTimeMillis() - lastEventMs >= quietMs
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
        lastEventMs = System.currentTimeMillis()
        execSite(e.executionId) = e.details
      }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    val site = e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val execs = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
      .flatMap(prop).flatMap(_.toLongOption).flatMap(execSite.get)
    val (layer, how) = JobTracker.layerOf(site).map(_ -> "callsite")
      .orElse(execs.flatMap(JobTracker.layerOf).headOption.map(_ -> "sql_execution"))
      .orElse(spans.at(e.time).map(_.layer).filter(JobTracker.Layers.contains).map(_ -> "span"))
      .getOrElse("unattributed" -> "none")
    val compact = (site +: execs).exists(_.contains("graft.logs.LogStore.compact("))
    val job = new Job(e.jobId, e.time, layer, how, compact)
    jobs(e.jobId) = job
    e.stageIds.foreach(stageJob(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    stageJob.get(e.stageId).foreach { j =>
      if (e.reason != Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskS += m.executorRunTime / 1000.0
        j.gcS += m.jvmGCTime / 1000.0
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
      }
    }
  }
}

object JobTracker {

  val Layers: Seq[String] = Seq("core", "ingest", "logs", "reports",
    "maintenance", "streaming", "llm", "ops", "unattributed")

  /** Layer of the innermost `graft.` frame in a call-site stack dump.
    * `functions` (the Catalyst expressions the LLM operators plan) counts
    * as `llm`; `model` and `plans` count as `core`; top-level `graft`
    * objects (the query registry) count as `ops`.
    */
  def layerOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { f =>
      f.stripPrefix("graft.").takeWhile(_ != '.') match {
        case l @ ("core" | "ingest" | "logs" | "reports" | "maintenance" |
            "streaming" | "llm" | "ops") => l
        case "functions" => "llm"
        case "model" | "plans" => "core"
        case _ => "ops"
      }
    }
}
