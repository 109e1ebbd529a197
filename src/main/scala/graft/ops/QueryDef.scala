package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: the Spark implementation plus the
  * DuckDB oracle equivalent the correctness check hash-compares against.
  * Column names/aliases MUST match between the two (the compare sorts
  * columns by name before hashing).
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object Q {
  def apply(oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(fn, oracle)
}

/** Scratch temp directories for fixture-building queries, with a REAL
  * JVM-exit cleanup: `File.deleteOnExit` removes only EMPTY
  * directories (and only the registered root), so the previous idiom
  * leaked every fixture corpus — Bench runs each such query at least
  * twice (warm-up + timed), steadily filling /tmp across rounds. One
  * shutdown hook deletes the registered trees recursively.
  */
object Scratch {
  private val dirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  def dir(prefix: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs.add(d)
    if (hooked.compareAndSet(false, true)) {
      sys.addShutdownHook { dirs.forEach(deleteRec(_)) }
      ()
    }
    d
  }
}
