package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Duplicate-run guard over the SOURCE (RegistrySpec's source-scan
  * style): every oracle fragment, fixture builder and closure step
  * under graft/ops is stated once — a private `lazy val` or `def` of
  * its file, or an [[OracleSql]] member when its users sit in different
  * files — and every algorithm, input guard and closure step of the
  * main tree has one home. A run of 6 or more consecutive code lines
  * that repeats an earlier run fails here, naming both places. Lines compare after stripping leading
  * whitespace; blank lines and comment lines (a line comment, a
  * block-comment opener or a `*` continuation) are skipped; a run must
  * also hold at least 200 characters, so stacks of short closers do
  * not count.
  */
class OpsDuplicateRunSpec extends AnyFunSuite {

  private val MinLines = 6
  private val MinChars = 200

  private final case class Line(file: String, no: Int, text: String)

  private def codeLines(root: java.io.File, f: java.io.File): IndexedSeq[Line] = {
    val name = root.toPath.relativize(f.toPath).toString
    val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    src.split("\n", -1).toIndexedSeq.zipWithIndex.collect {
      case (l, i) if l.trim.nonEmpty && !l.trim.matches("""^(//|/\*|\*).*""") =>
        Line(name, i + 1, l.stripLeading())
    }
  }

  /** Every maximal run of lines whose MinLines-line windows each occurred
    * earlier (in the given file order), with the place of its first
    * window's earlier occurrence.
    */
  private def repeatedRuns(root: java.io.File,
                           files: Seq[java.io.File]): Seq[(Seq[Line], Line)] = {
    val firstSeen = scala.collection.mutable.HashMap.empty[Seq[String], Line]
    files.flatMap { f =>
      val lines = codeLines(root, f)
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

  /** Fails naming every repeated run among the `.scala` files under
    * `path`, taken in relative-path order.
    */
  private def assertNoRepeats(path: String, hint: String): Unit = {
    val root = new java.io.File(path)
    assume(root.isDirectory, s"source dir not found at ${root.getAbsolutePath}")
    val files = java.nio.file.Files.walk(root.toPath).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(f => f.isFile && f.getName.endsWith(".scala"))
      .sortBy(f => root.toPath.relativize(f.toPath).toString)
    val runs = repeatedRuns(root, files)
    val report = runs.map { case (run, prev) =>
      s"${run.head.file}:${run.head.no} (${run.size} lines) repeats ${prev.file}:${prev.no}"
    }
    if (runs.nonEmpty)
      fail(s"${runs.size} repeated runs covering ${runs.map(_._1.size).sum} lines — " +
        s"state each once ($hint):\n" + report.mkString("\n"))
  }

  test("no run of 6+ code lines repeats under graft/ops") {
    assertNoRepeats("src/main/scala/graft/ops",
      "a private lazy val/def, or OracleSql across files")
  }

  test("no run of 6+ code lines repeats anywhere under src/main/scala") {
    assertNoRepeats("src/main/scala",
      "one shared def beside its callers")
  }
}
