package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Unreached-definition guard over the SOURCE (OpsDuplicateRunSpec's
  * source-scan style): every non-private, non-`override` `def` under
  * src/main/scala must be named somewhere else in src/main/scala or
  * perfbench/src — a registered query, an entry point, the benchmark or
  * another definition reaches it. A name only tests reach is surface no
  * user path needs, and fails here. Names compare as whole words over
  * the raw text, comments included.
  *
  * The exemptions below are public API kept for the reference's side
  * pipelines and reports, each with its SURVEY.md counterpart, or with
  * the reason it stays. An exemption that no longer names an unreached
  * definition fails too, so the list cannot go stale.
  */
class UnreachedDefSpec extends AnyFunSuite {

  private val Exempt: Map[String, String] = Map(
    // the maintenance side pipelines (SURVEY §5, lines 478-479)
    "dedupSyncFile" -> "SURVEY.md:169 (J3, duplicates_check.sql:49-54)",
    "healSyncErrors" -> "SURVEY.md:167 (J1, duplicates_check.sql:20-23)",
    "deleteMigrated" -> "SURVEY.md:147 (S16, stg_records_deletion_process.py:12-15)",
    "retentionSweep" -> "SURVEY.md:146 (S15, delete_old_files.sh:15-20)",
    "exportBadRecords" -> "SURVEY.md:138 (S7, automate_table_extraction.py:64-66)",
    "quarantineTables" -> "SURVEY.md:137 (S6, automate_table_extraction.py:52-57)",
    "requeueMonitoring" -> "SURVEY.md:249 (stg_monitoring_summary.sql:21-23)",
    "compactAllStagingIfNeeded" ->
      "the scheduled staging compaction sweep a maintenance cron calls",
    // the reports
    "persistProcessSummary" -> "SURVEY.md:183 (A3, pcs_summary_report.py:25-34)",
    "tableSizes" -> "SURVEY.md:207 (O2, table_sizes.sql:1-11)",
    // ingest helpers with a reference counterpart
    "encryptedName" -> "SURVEY.md:225 (F4, file_loader.py:264, 559)",
    "serializeNested" -> "SURVEY.md:97 (dsd_loader.py:638-639)",
    // library faces whose siblings a registered query uses
    "pruneIsNull" -> "the IS NULL face of ZoneMap's pruning; pruneRange is registered",
    "dedupCorpus" -> "the corpus face of DupGraph.dupClusters, which the cluster queries use",
    "eigenSpectrum" -> "eigenvalues of the collected secondMoments covariance; not SQL-expressible",
    "dequantize" -> "the inverse of Quant.quantize, which quantizeInt8 applies",
    "intervalJoinStream" -> "the watermarked face of StreamJoin.intervalJoin, run from readStream sources",
    "lastAppliedBatchId" -> "the read side of ReplayGuard's batch marker")

  private val Def =
    """(?m)^\s*((?:[a-z]+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val Word = """[A-Za-z_][A-Za-z0-9_]*""".r

  private def scalaFiles(root: java.io.File): Seq[java.io.File] =
    if (!root.isDirectory) Nil
    else java.nio.file.Files.walk(root.toPath).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(f => f.isFile && f.getName.endsWith(".scala"))
      .sortBy(_.getPath)

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("every public def under src/main/scala is reached from src/main/scala or perfbench/src") {
    val main = new java.io.File("src/main/scala")
    assume(main.isDirectory, s"source dir not found at ${main.getAbsolutePath}")
    val mainTexts = scalaFiles(main).map(f => f.getPath -> read(f))
    val benchTexts = scalaFiles(new java.io.File("perfbench/src")).map(read)
    val uses = (mainTexts.map(_._2) ++ benchTexts)
      .flatMap(Word.findAllIn(_)).groupBy(identity).map { case (w, ws) => w -> ws.size }
    val unreached = for {
      (path, text) <- mainTexts
      m <- Def.findAllMatchIn(text).toSeq
      mods = m.group(1)
      if !mods.contains("private") && !mods.contains("override")
      if uses(m.group(2)) <= 1
    } yield (m.group(2), s"$path:${text.take(m.start(2)).count(_ == '\n') + 1}")
    val names = unreached.map(_._1).toSet
    val fresh = unreached.filterNot(u => Exempt.contains(u._1))
    val stale = Exempt.keySet -- names
    assert(fresh.isEmpty,
      s"${fresh.size} defs that no main path reaches — delete them, or exempt " +
        "them here with their reference counterpart:\n" +
        fresh.map { case (n, at) => s"$n ($at)" }.mkString("\n"))
    assert(stale.isEmpty, s"exemptions that no longer name an unreached def: $stale")
  }
}
