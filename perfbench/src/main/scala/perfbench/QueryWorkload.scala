package perfbench

import graft.SparkEntry
import graft.core.GraftSession
import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

object QueryWorkload {

  /** A set-up-heavy LLM operator (the two-level IVF fit and top-k
    * probe), a streaming count-min sketch folded over three micro-batches, and
    * the reference-shaped maintenance operators (row-number dedup,
    * self-join heal, staged delete).
    */
  val Queries: Seq[String] = Seq(
    "q_ann_ivf2_topk", "q_stream_cms",
    "q_w1_rownumber_dedup", "q_j1_selfjoin_heal", "q_s16_staged_delete")

  val Sizes: TableGen.Sizes = TableGen.Sizes(documents = 1000,
    embeddings = 1000, customers = 1500, orders = 7500, lineitems = 30000)
}

/** The query library: one untimed pass that writes every result for the
  * oracle replay (and warms the JVM), then timed passes, each running
  * every query's closure, planning it and counting its rows.
  */
final class QueryWorkload(spark: SparkSession, args: Main.Args, spans: Spans)
    extends Workload(spark, args, spans) {
  import Main.Metric
  import QueryWorkload._

  private val data = new File(args.work, "tables").getPath
  private val results = new File(args.work, "results")
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def setUp(): Double =
    step("generate")(TableGen.write(spark, data, args.seed, Sizes)) +
      step("warm-up")(checkPass())

  /** The untimed pass: writes every result for the oracle replay. */
  private def checkPass(): Unit = {
    val oracle = SparkEntry.oracleSql
    Queries.foreach { q =>
      attempted += 1
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(q)(spark, data).coalesce(1)
          .write.mode("overwrite").parquet(new File(results, q).getPath)
      } catch { case e: Exception => failures += s"$q (check pass) threw $e" }
      System.err.println(f"perfbench: check pass $q ${Main.seconds(t0)}%.2f s")
      GraftSession.releaseAll(spark)
    }
    val json = Queries.map(q => s"${Json.str(q)}: ${Json.str(oracle(q))}")
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(new File(results, "oracle_sql.json").toPath, json)
  }

  def cycle(i: Int): (Double, Double) = {
    val t0 = System.nanoTime()
    Queries.foreach { q =>
      attempted += 1
      try {
        val df = spans("ops.setup", q)(SparkEntry.queries(q)(spark, data))
        spans("ops.plan", q)(df.queryExecution.executedPlan)
        spans("ops.exec", q)(df.count())
      } catch { case e: Exception => failures += s"$q (pass $i) threw $e" }
      GraftSession.releaseAll(spark)
    }
    val s = (System.nanoTime() - t0) / 1e9
    (s, s)
  }

  def check(): (Long, Long) = (attempted, failures.size.toLong)

  override def notes: Seq[String] = failures.toSeq.map("FAILED " + _) ++
    Queries.map { q =>
      val parts = Seq("ops.setup", "ops.plan", "ops.exec")
        .map(n => Main.median(spans.named(n).filter(_.tag == q).map(_.seconds)))
      f"$q median setup/plan/exec ${parts(0)}%.2f/${parts(1)}%.2f/${parts(2)}%.2f s"
    }

  def workloadMetrics(cycles: Seq[Int]): Seq[(String, Metric)] = {
    val n = math.max(1, cycles.size).toDouble
    val passes = cycleSpans(cycles)
    def perPass(name: String) = spans.named(name)
      .filter(s => passes.exists(p => s.startMs >= p.startMs && s.endMs <= p.endMs))
    Seq(
      "library_pass_s" -> Metric(Main.median(passes.map(_.seconds)), "s"),
      "ops.setup_s" -> Metric(perPass("ops.setup").map(_.seconds).sum / n, "s"),
      "ops.plan_s" -> Metric(perPass("ops.plan").map(_.seconds).sum / n, "s"),
      "ops.exec_s" -> Metric(perPass("ops.exec").map(_.seconds).sum / n, "s"),
      "ops.setup_jobs" -> Metric(jobsIn(cycles, "ops.setup").size / n, "count"),
      "ops.exec_jobs" -> Metric(jobsIn(cycles, "ops.exec").size / n, "count"))
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
