package graft

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; tests run
  * in a forked JVM per build.sbt).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.quiet(
      GraftSession.builder("graft-test", "local[4]", shufflePartitions = 4)
        .getOrCreate())

  /** `body`'s result and the number of Spark jobs it started (listener
    * events drained before and after, so no earlier job leaks in).
    */
  def countJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.ListenerBridge
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    sc.addSparkListener(counter)
    try {
      val out = body
      ListenerBridge.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(counter)
  }
}
