package graft

import org.apache.spark.sql.functions._

/** The per-query profiler behind graft.Bench: warm samples, their
  * spread, per-phase job counts and error surfacing.
  */
class BenchSpec extends SparkSpec {

  private def profiled(fn: Bench.Query): Bench.R = {
    val probe = new Bench.PhaseListener
    spark.sparkContext.addSparkListener(probe)
    try Bench.profile(spark, probe, "q_probe", "unused", fn)
    finally spark.sparkContext.removeSparkListener(probe)
  }

  test("an eager setup job and a small frame: 3 samples, median within spread, jobs per phase") {
    val r = profiled { (s, _) =>
      assert(s.range(100).count() === 100L) // one eager setup job
      s.range(10).toDF("id")
    }
    assert(r.err.isEmpty)
    assert(r.samples.size === 3)
    val secs = r.samples.map(_.sec).sorted
    assert(r.sec === secs(1))
    assert(secs.head <= r.sec && r.sec <= secs.last)
    val m = r.median
    assert(m.setup.jobs >= 1)
    assert(m.exec.jobs >= 1)
    assert(m.setupSec + m.querySec === m.sec)
    // every job names its innermost engine frame; the setup job was
    // submitted from this spec's closure
    assert(m.setup.sites.values.sum === m.setup.jobs)
    assert(m.setup.sites.keys.exists(_.startsWith("graft.BenchSpec")), m.setup.sites)
    assert(m.exec.stages >= 1)
  }

  test("a closure that throws during setup reports err and no timing") {
    val r = profiled((_, _) => throw new IllegalStateException("fixture broke"))
    assert(r.err.exists(_.contains("fixture broke")))
    assert(r.samples.isEmpty)
  }

  test("a frame that fails at collect reports err") {
    val boom = udf { (x: Long) =>
      if (x == 2L) throw new IllegalStateException("boom")
      x
    }
    val r = profiled((s, _) => s.range(3).toDF("id").filter(boom(col("id")) >= 0L))
    assert(r.err.nonEmpty)
    assert(r.samples.isEmpty)
  }
}
