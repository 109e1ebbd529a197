package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Duplicate-run guard over the query library's SOURCE (RegistrySpec's
  * source-scan style): every oracle fragment, fixture builder and
  * closure step under graft/ops is stated once — a private `lazy val`
  * or `def` of its file, or an [[OracleSql]] member when its users sit
  * in different files. A run of 8 or more consecutive code lines that
  * repeats an earlier run fails here, naming both places. Lines compare
  * after stripping leading whitespace; blank lines and comment lines
  * (a line comment, a block-comment opener or a `*` continuation) are
  * skipped; a run must also hold at least 200 characters, so stacks of
  * short closers do not count.
  */
class OpsDuplicateRunSpec extends AnyFunSuite {

  private val MinLines = 8
  private val MinChars = 200

  private final case class Line(file: String, no: Int, text: String)

  private def codeLines(f: java.io.File): IndexedSeq[Line] = {
    val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    src.split("\n", -1).toIndexedSeq.zipWithIndex.collect {
      case (l, i) if l.trim.nonEmpty && !l.trim.matches("""^(//|/\*|\*).*""") =>
        Line(f.getName, i + 1, l.stripLeading())
    }
  }

  /** Every maximal run of lines whose 8-line windows each occurred
    * earlier (in file-name order), with the place of its first window's
    * earlier occurrence.
    */
  private def repeatedRuns(files: Seq[java.io.File]): Seq[(Seq[Line], Line)] = {
    val firstSeen = scala.collection.mutable.HashMap.empty[Seq[String], Line]
    files.flatMap { f =>
      val lines = codeLines(f)
      val origin = scala.collection.mutable.TreeMap.empty[Int, Line]
      val marked = scala.collection.mutable.BitSet.empty
      lines.sliding(MinLines).zipWithIndex.foreach { case (w, p) =>
        if (w.size == MinLines) {
          val key = w.map(_.text)
          firstSeen.get(key) match {
            case Some(prev) =>
              if (!marked(p)) origin(p) = prev
              marked ++= (p until p + MinLines)
            case None => firstSeen(key) = w.head
          }
        }
      }
      val runs = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
      marked.toSeq.foreach { i =>
        if (runs.nonEmpty && runs.last.last == i - 1) runs(runs.size - 1) = runs.last :+ i
        else runs += Seq(i)
      }
      runs.toSeq.map(r => (r.map(lines), origin(r.head)))
        .filter(_._1.map(_.text.length).sum >= MinChars)
    }
  }

  test("no run of 8+ code lines repeats under graft/ops") {
    val opsDir = new java.io.File("src/main/scala/graft/ops")
    assume(opsDir.isDirectory, s"ops source dir not found at ${opsDir.getAbsolutePath}")
    val files = opsDir.listFiles().filter(_.getName.endsWith(".scala")).sortBy(_.getName).toSeq
    val runs = repeatedRuns(files)
    val report = runs.map { case (run, prev) =>
      s"${run.head.file}:${run.head.no} (${run.size} lines) repeats ${prev.file}:${prev.no}"
    }
    if (runs.nonEmpty)
      fail(s"${runs.size} repeated runs covering ${runs.map(_._1.size).sum} lines — " +
        "state each once (a private lazy val/def, or OracleSql across files):\n" +
        report.mkString("\n"))
  }
}
