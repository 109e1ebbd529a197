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
    val (out, sites) = jobCallSites(body)
    (out, sites.size)
  }

  /** `body`'s result and the short call site (`count at X.scala:N`) of
    * each Spark job it started, in start order, from the job's result
    * stage. Listener events are drained before and after, so no earlier
    * job leaks in.
    */
  def jobCallSites[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.ListenerBridge
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val recorder = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        sites.add(e.stageInfos.maxByOption(_.stageId).fold("?")(_.name)); ()
      }
    }
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    sc.addSparkListener(recorder)
    try {
      val out = body
      ListenerBridge.drain(sc)
      (out, sites.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(recorder)
  }
}
