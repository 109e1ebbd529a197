package graft.ingest

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Runs independent jobs that submit Spark work concurrently, on a
  * fixed pool of at most `parallelism` threads, so their stages
  * interleave instead of leaving the cluster idle between small jobs.
  * Results keep the input order; the first failure propagates. With
  * `parallelism` ≤ 1, or a single item, the jobs run in order on the
  * calling thread.
  */
object FanOut {
  def run[A, B](items: Seq[A], parallelism: Int)(f: A => B): Seq[B] =
    if (parallelism <= 1 || items.size <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.size))
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
      } finally pool.shutdown()
    }
}
