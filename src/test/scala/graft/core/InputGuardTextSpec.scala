package graft.core

import graft.SparkSpec
import graft.llm.{Bootstrap, Conversations, InfoStats, RankStats, Sampling, Survival, TextAnalysis}
import graft.streaming.ConformalStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The exact text each NULL input guard raises: one row per operator
  * and guarded column. Each row NULLs the guarded column in one row of
  * an otherwise valid frame, runs the operator and compares the raised
  * `raise_error` text in full.
  */
class InputGuardTextSpec extends SparkSpec {
  import spark.implicits._

  /** Six valid rows: two groups, two arms, two slices, 0/1 outcomes and
    * events, positive durations.
    */
  private lazy val base: DataFrame = (1L to 6L).map { i =>
    (i, if (i % 2 == 0) "a" else "b", i * 10L, i, i % 2,
      if (i <= 3) "t" else "c", if (i % 3 == 0) "s1" else "s2", "k1",
      (i + 1) % 2, i, "hello world")
  }.toDF("id", "g", "v", "x", "y", "arm", "s", "k", "e", "dur", "text")

  /** `base` with `c` NULL in the row whose id is 2. */
  private def nullIn(c: String): DataFrame =
    base.withColumn(c, when(col("id") =!= 2L, col(c)))

  /** The `raise_error` text of the first USER_RAISED_EXCEPTION in the
    * cause chain of what `body` throws.
    */
  private def raised(body: => Any): String = {
    val e = intercept[Throwable] { body; () }
    val pat = """\[USER_RAISED_EXCEPTION\] (.*?) SQLSTATE""".r
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage).flatMap(pat.findFirstMatchIn))
      .map(_.group(1)).nextOption()
      .getOrElse(s"no raised text in: $e")
  }

  /** A state path that does not exist yet, under a fresh temp dir. */
  private def statePath(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getPath + "/state"

  private val cases: Seq[(String, () => Any)] = Seq(
    // the string-label guards
    "mannWhitney: NULL group in g" ->
      (() => RankStats.mannWhitney(nullIn("g"), "v", "g").collect()),
    "mannWhitneyPerSlice: NULL slice in s" ->
      (() => RankStats.mannWhitneyPerSlice(nullIn("s"), "v", "s").collect()),
    "cupedAdjust: NULL arm in arm" ->
      (() => RankStats.cupedAdjust(nullIn("arm"), "x", "v", "arm").collect()),
    "stratifiedAte: NULL stratum in s" ->
      (() => RankStats.stratifiedAte(nullIn("s"), "s", "arm", "t", "y")
        .collect()),
    "ksPerSlice: NULL slice in s" ->
      (() => RankStats.ksPerSlice(nullIn("s"), "v", "s").collect()),
    "wassersteinByKey: NULL key in k" ->
      (() => RankStats.wassersteinByKey(nullIn("k"), "k", "v", "g").collect()),
    "wassersteinByKey: NULL group in g" ->
      (() => RankStats.wassersteinByKey(nullIn("g"), "k", "v", "g").collect()),
    "groupedQuantiles: NULL group in g" ->
      (() => RankStats.groupedQuantiles(nullIn("g"), "v", "g", Seq(500L))
        .collect()),
    "conformalQuantile: NULL group in g" ->
      (() => RankStats.conformalQuantile(nullIn("g"), "v", "g").collect()),
    "ecdfNormalize: NULL group in g" ->
      (() => RankStats.ecdfNormalize(nullIn("g"), "v", "g").collect()),
    "conformalCoverage: NULL group in g" ->
      (() => RankStats.conformalCoverage(nullIn("g"),
        RankStats.conformalQuantile(base, "v", "g"), "v", "g").collect()),
    "chi2Cells: NULL in g" ->
      (() => RankStats.chi2Cells(nullIn("g"), "g", "s").collect()),
    "chi2Cells: NULL in s" ->
      (() => RankStats.chi2Cells(nullIn("s"), "g", "s").collect()),
    "kaplanMeierByGroup: NULL group in g" ->
      (() => Survival.kaplanMeierByGroup(nullIn("g"), "dur", "e", "g")
        .collect()),
    "logRank: NULL group in g" ->
      (() => Survival.logRank(nullIn("g"), "dur", "e", "g").collect()),
    "splitBalance: NULL label in g" ->
      (() => Sampling.splitBalance(nullIn("g"), "id", "g",
        Seq("train" -> 0.8, "test" -> 0.2)).collect()),
    "ConformalStream: NULL group in g" ->
      (() => ConformalStream.applyBatch(nullIn("g"), "g", "v",
        statePath("guard_conf_g"))),
    "upliftCurve: NULL arm in arm" ->
      (() => RankStats.upliftCurve(nullIn("arm"), "v", "arm", "t", "y")
        .collect()),
    "sequentialBoundary: NULL arm in arm" ->
      (() => RankStats.sequentialBoundary(nullIn("arm"), "x", "arm", "t", "y")
        .collect()),
    "diffInDiff: NULL arm in arm" ->
      (() => RankStats.diffInDiff(nullIn("arm"), "x", "v", "arm", "t")
        .collect()),
    "stratifiedAte: NULL arm in arm" ->
      (() => RankStats.stratifiedAte(nullIn("arm"), "s", "arm", "t", "y")
        .collect()),
    // the long and categorical guards
    "ConformalStream: NULL value in v" ->
      (() => ConformalStream.applyBatch(nullIn("v"), "g", "v",
        statePath("guard_conf_v"))),
    "mutualInformation: NULL value in s" ->
      (() => InfoStats.mutualInformation(nullIn("s"), "g", "s").collect()),
    "spearman: NULL value in x" ->
      (() => RankStats.spearman(nullIn("x"), "x", "v").collect()),
    "replicateStats: NULL value v" ->
      (() => Bootstrap.replicateStats(nullIn("v"), "id", Seq("v"), 2)
        .collect()),
    "coxPh: NULL covariate in x" ->
      (() => Survival.coxPh(nullIn("x"), "dur", "e", "x").collect()),
    "compressionRatio: NULL id in id" ->
      (() => TextAnalysis.compressionRatio(nullIn("id"), "id", "text")
        .collect()),
    "heapsFit: NULL doc id in id" ->
      (() => TextAnalysis.heapsFit(nullIn("id"), "id", "text").collect()),
    "sftMaskLayout: NULL length in x" ->
      (() => Conversations.sftMaskLayout(
        nullIn("x").withColumn("ts", timestamp_seconds(col("id") * 60L)),
        "k", "ts", "id", "arm", "x", Seq("t")).collect()))

  test("every NULL input guard raises its exact text") {
    val wrong = cases.flatMap { case (want, run) =>
      val got = raised(run())
      if (got == want) None else Some(s"want <$want>, got <$got>")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
