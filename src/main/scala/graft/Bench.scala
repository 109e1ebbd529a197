package graft

import graft.core.{GraftSession, JsonEscape}
import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.ListenerBridge
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark main and the engine's one per-query profiler: runs every
  * registered query against SPARK_GRAFT_SF_DIR (or the comma-separated
  * SPARK_GRAFT_ONLY subset) and prints one JSON line with per-query
  * seconds; `bench_full.json` carries the per-query detail.
  *
  * Each query is timed in [[Samples]] warm samples and reports their
  * median, min and max. A sample is split into three phases: setup
  * (the query closure runs — fixture closures run their store/stream
  * construction jobs eagerly here), plan (the counted frame's physical
  * plan is forced) and exec (`collect`). A [[PhaseListener]] counts the
  * Spark jobs, stages, shuffle bytes and spill of each phase.
  *
  * A failing query reports {"err": "..."} instead of a timing: a
  * swallowed Throwable must never look like a fast success.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Warm samples per query; `sec` is their median. */
  val Samples = 3

  /** Thread-local property naming the phase a job belongs to. Unlike the
    * job group, which every stream execution overwrites on its own
    * thread, a local property follows the work onto the threads started
    * from the tagged one (broadcasts, adaptive stages, stream
    * executions, the ingest fan-out), so attribution is exact.
    */
  private val PhaseKey = "graft.bench.phase"

  /** Spark work of one phase. `sites` counts jobs per innermost `graft.`
    * frame of the job's call site, or of its SQL execution's call site
    * when the job ran on one of Spark's threads ("?" when neither has
    * one). `shuffleBytes` is shuffle write; `spillBytes` is spill to
    * disk.
    */
  final case class Work(jobs: Int = 0, stages: Int = 0, shuffleBytes: Long = 0L,
                        spillBytes: Long = 0L, sites: Map[String, Int] = Map.empty) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
      shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
      (sites.keySet ++ o.sites.keySet).map(s =>
        s -> (sites.getOrElse(s, 0) + o.sites.getOrElse(s, 0))).toMap)
  }

  /** One warm run of a query. `exec` work includes any job planning
    * fires. `gcMs`/`peakMb` are this sample's GC time and the sum of
    * per-pool heap peaks (an upper bound on the footprint): gc_ms ≈ sec
    * marks a memory-starved JVM, not a slow operator.
    */
  final case class Sample(setupSec: Double, planSec: Double, execSec: Double,
                          gcMs: Long, peakMb: Long, setup: Work, exec: Work) {
    def querySec: Double = planSec + execSec
    def sec: Double = setupSec + querySec
  }

  /** A query's profile: its samples, or the error that stopped them. */
  final case class R(name: String, samples: Seq[Sample], err: Option[String]) {
    lazy val median: Sample = samples.sortBy(_.sec).apply(samples.size / 2)
    def sec: Double = median.sec
  }

  /** Sums the work of every job tagged with [[PhaseKey]], per tag. */
  final class PhaseListener extends SparkListener {
    private val work = mutable.HashMap.empty[String, Work]
    private val stageTag = mutable.HashMap.empty[Int, String]
    private val execSite = mutable.HashMap.empty[String, String]
    private def graftFrame(callSite: String): Option[String] =
      callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))
    private def tagOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(PhaseKey)))
    private def add(tag: String, w: Work): Unit =
      work(tag) = work.getOrElse(tag, Work()) + w

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      tagOf(e.properties).foreach { t =>
        val site = e.stageInfos.maxByOption(_.stageId).flatMap(s => graftFrame(s.details))
          .orElse(Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
            .flatMap(k => Option(e.properties.getProperty(k))).flatMap(execSite.get).headOption)
          .getOrElse("?")
        add(t, Work(jobs = 1, sites = Map(site -> 1)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      tagOf(e.properties).foreach { t =>
        stageTag(e.stageInfo.stageId) = t
        add(t, Work(stages = 1))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (t <- stageTag.get(e.stageId); m <- Option(e.taskMetrics))
        add(t, Work(shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.diskBytesSpilled))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(stageTag.remove(e.stageInfo.stageId))
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          graftFrame(s.details).foreach(execSite(s.executionId.toString) = _)
        case s: SparkListenerSQLExecutionEnd => execSite.remove(s.executionId.toString)
        case _ => ()
      }
    }

    /** Removes and returns the work tagged `tag`; the caller drains the
      * listener bus first.
      */
    def take(tag: String): Work = synchronized(work.remove(tag).getOrElse(Work()))
  }

  private val tags = new java.util.concurrent.atomic.AtomicLong
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcNow(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Times `fn` in [[Samples]] warm samples on `spark`, whose listener
    * bus carries `probe`. Stops at the first error. Cached storage is
    * released after every sample, outside the timed region, so a timing
    * does not depend on what ran before it.
    */
  def profile(spark: SparkSession, probe: PhaseListener, name: String,
              sfDir: String, fn: Query): R = {
    val sc = spark.sparkContext
    def tagged[T](tag: String)(body: => T): T = {
      sc.setLocalProperty(PhaseKey, tag)
      try body finally sc.setLocalProperty(PhaseKey, null)
    }
    val runs = mutable.ArrayBuffer.empty[(String, Sample)]
    var err: Option[String] = None
    while (err.isEmpty && runs.size < Samples) {
      val tag = s"$name#${tags.incrementAndGet()}"
      heapPools.foreach(p => try p.resetPeakUsage() catch { case _: Throwable => () })
      val g0 = gcNow()
      val t0 = System.nanoTime()
      try {
        val frame = tagged(s"$tag/setup")(fn(spark, sfDir))
        val t1 = System.nanoTime()
        var t2 = t1
        tagged(s"$tag/exec") {
          val counted = frame.groupBy().count()
          counted.queryExecution.executedPlan
          t2 = System.nanoTime()
          counted.collect()
        }
        val t3 = System.nanoTime()
        val peakMb = heapPools.map(p =>
          Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / (1024L * 1024L)
        runs += tag -> Sample((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
          gcNow() - g0, peakMb, Work(), Work())
      } catch { case e: Throwable =>
        err = Some(graft.ingest.Stages.errorText(e).take(300))
      }
      GraftSession.releaseAll(spark)
    }
    ListenerBridge.drain(sc)
    val samples = runs.toSeq.map { case (tag, s) =>
      s.copy(setup = probe.take(s"$tag/setup"), exec = probe.take(s"$tag/exec"))
    }
    if (err.isDefined) R(name, Nil, err) else R(name, samples, None)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val spark = GraftSession.quiet(
      GraftSession.builder("graft-bench", s"local[$cpus]",
        shufflePartitions = math.max(cpus, 4)).getOrCreate())

    // untimed warm-up sweep: run EVERY query once AT THE TARGET SF
    // before timing anything. A query's first execution pays Janino
    // codegen and JIT warm-up (measured: q_llm_curation_e2e 17.0 s first
    // touch, 1.1 s steady at sf0.1), and it must run at the target
    // volume: AQE re-plans per runtime statistics, so a small-SF plan
    // shares no generated code with the target-SF one.
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count()
      catch { case _: Throwable => () }
      GraftSession.releaseAll(spark)
    }
    val probe = new PhaseListener
    spark.sparkContext.addSparkListener(probe)
    val results = queries.map { case (n, fn) => profile(spark, probe, n, sfDir, fn) }

    // the warm ledger (bench_ledger*.json) is read only AT ITS OWN SF,
    // picked by each file's "_sf" key (both sides canonicalized, so a
    // trailing slash or symlink does not silently disarm it). Plain
    // "<name>" entries are ledgered seconds, "setup:<name>" entries that
    // run's setup_sec.
    def canon(p: String): String =
      try java.nio.file.Paths.get(p).toRealPath().toString
      catch { case _: Throwable =>
        java.nio.file.Paths.get(p).normalize().toString }
    def readLedger(path: String): Option[Map[String, Double]] = {
      val txt =
        try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")
        catch { case _: Throwable => return None }
      val sf = """"_sf":\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
      if (!sf.map(canon).contains(canon(sfDir))) None
      else Some(""""([^"]+)":\s*([0-9.]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap)
    }
    val ledgerPick = Seq("bench_ledger.json", "bench_ledger_sf1.json")
      .view.flatMap(p => readLedger(p).map(p -> _)).headOption
    val ledgerAll = ledgerPick.map(_._2).getOrElse(Map.empty[String, Double])
    val ledger = ledgerAll.view.filterKeys(k => !k.startsWith("setup:")).toMap
    val setupLedger = ledgerAll.view
      .collect { case (k, v) if k.startsWith("setup:") => k.stripPrefix("setup:") -> v }.toMap

    // the ledgered seconds of an entry: query_sec when the closure's
    // eager setup dominates (> 50% of the total), else total sec, so a
    // fixture-heavy entry ledgers its measured operator. The fixture
    // side keeps its own band: setup_sec past max(3 s, 3× its ledgered
    // weight) is flagged in the artifact.
    def metric(r: R): Double =
      if (r.median.setupSec > 0.5 * r.sec) r.median.querySec else r.sec
    def setupFlagged(r: R): Boolean = r.err.isEmpty &&
      setupLedger.get(r.name).exists(w => r.median.setupSec > math.max(3.0, 3.0 * w))

    def esc(s: String): String = JsonEscape.escape(s)
    def fmt(v: Double): String = f"$v%.3f"
    def line(rs: Seq[R]): String = {
      val qs = rs.map { r =>
        r.err match {
          case None => s""""${esc(r.name)}":${fmt(r.sec)}"""
          case Some(err) => s""""${esc(r.name)}":{"err":"${esc(err)}"}"""
        }
      }.mkString("{", ",", "}")
      val total = results.filter(_.err.isEmpty).map(_.sec).sum
      s""""metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"errors":${results.count(_.err.nonEmpty)},"setup_flags":${results.count(setupFlagged)},"queries":$qs,"sf":"${esc(sfDir)}""""
    }

    // environment snapshot: lets a reader of bench_full.json alone tell
    // contention (high load_avg, low free memory, gc_ms ≈ wall) from a
    // real regression
    def envBlock(): String = {
      val os = ManagementFactory.getOperatingSystemMXBean
      val rt = Runtime.getRuntime
      val (freeMb, totalMb) = os match {
        case o: com.sun.management.OperatingSystemMXBean =>
          (o.getFreeMemorySize / (1024L * 1024L),
            o.getTotalMemorySize / (1024L * 1024L))
        case _ => (-1L, -1L)
      }
      s""""env":{"load_avg":${fmt(os.getSystemLoadAverage)},"cpus":${rt.availableProcessors},"jvm_max_heap_mb":${rt.maxMemory / (1024L * 1024L)},"sys_free_mem_mb":$freeMb,"sys_total_mem_mb":$totalMb,"total_gc_ms":${gcNow()},"ledger_used":${ledger.nonEmpty},"ledger_file":${ledgerPick.map(f => s""""${esc(f._1)}"""").getOrElse("null")}}"""
    }
    // per query: the median sample's phase split and Spark work, the
    // sample spread, and the ratios against the ledger; ledger_sec is
    // metric(), so a ledger refresh derives from this file alone
    def detailBlock(rs: Seq[R]): String =
      rs.map { r =>
        val body = r.err match {
          case Some(err) => s""""err":"${esc(err)}""""
          case None =>
            val m = r.median
            val work = m.setup + m.exec
            val sites = work.sites.toSeq.sortBy { case (s, n) => (-n, s) }
              .map { case (s, n) => s""""${esc(s)}":$n""" }.mkString("{", ",", "}")
            val ratio = ledger.get(r.name).filter(_ > 0.0)
              .map(w => s""","ledger_ratio":${fmt(metric(r) / w)}""").getOrElse("")
            val setupRatio = setupLedger.get(r.name).filter(_ > 0.0)
              .map(w => s""","setup_ratio":${fmt(m.setupSec / w)}""").getOrElse("")
            val flag = if (setupFlagged(r)) ""","setup_flagged":true""" else ""
            s""""sec":${fmt(r.sec)},"sec_min":${fmt(r.samples.map(_.sec).min)},"sec_max":${fmt(r.samples.map(_.sec).max)},"setup_sec":${fmt(m.setupSec)},"plan_sec":${fmt(m.planSec)},"query_sec":${fmt(m.querySec)},"ledger_sec":${fmt(metric(r))},"gc_ms":${m.gcMs},"peak_heap_mb":${m.peakMb},"setup_jobs":${m.setup.jobs},"exec_jobs":${m.exec.jobs},"stages":${work.stages},"shuffle_bytes":${work.shuffleBytes},"spill_bytes":${work.spillBytes},"job_sites":$sites$ratio$setupRatio$flag"""
        }
        s""""${esc(r.name)}":{$body}"""
      }.mkString("\"detail\":{", ",", "}")

    // full per-query detail goes to a FILE; stdout gets a HEADLINE subset
    // only. The consuming harness keeps a bounded tail of stdout, so the
    // line must survive truncation from the front: ~30 headline queries
    // cover every operator family and the historically slow paths, and
    // `value` stays the total over ALL queries.
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      ("{" + line(results) + "," + detailBlock(results) + "," + envBlock() +
        "}\n").getBytes("UTF-8"))
    val headline = Set(
      "q_a4_group_count", "q_j1_selfjoin_heal", "q_w1_rownumber_dedup",
      "q_s16_staged_delete", "q_f7_mask_nested_json",
      "q_pipeline_ingest_e2e", "q_maint_requeue",
      "q_llm_exact_dedup", "q_llm_minhash_sig", "q_llm_lsh_bands",
      "q_llm_near_dup", "q_llm_dup_clusters", "q_llm_incr_leakfree",
      "q_llm_embedding_near_dup",
      "q_llm_simhash", "q_ann_cosine_topk", "q_ann_lsh_topk",
      "q_ann_ivf_topk", "q_llm_lang_id", "q_mm_decode_features",
      "q_stream_sessionize", "q_llm_curation_e2e", "q_llm_winnow",
      "q_llm_simhash_near_dup", "q_llm_dup_ngrams", "q_llm_tfidf_keywords",
      "q_evt_asof_join", "q_evt_range_join",
      "q_evt_seq_match")
    // an error or a setup flag is never hidden by the headline filter
    println("{" + line(results.filter(r =>
      headline(r.name) || r.err.nonEmpty || setupFlagged(r))) + "}")
    spark.stop()
  }
}
