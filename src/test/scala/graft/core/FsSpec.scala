package graft.core

import graft.SparkSpec

class FsSpec extends SparkSpec {

  test("broadcastConf carries session hadoop conf keys into tasks") {
    // Object-store deployments set credentials/endpoints on the SESSION
    // hadoop conf; the distributed FS loops (Pipeline existence probes,
    // Maintenance.deleteFiles) must see them inside tasks — a default
    // Configuration() there would silently drop every override.
    spark.sparkContext.hadoopConfiguration.set("graft.test.marker", "xyz")
    try {
      val bc = Fs.broadcastConf(spark)
      val seen = spark.sparkContext.parallelize(1 to 8, 4)
        .map(_ => bc.value.value.get("graft.test.marker", "MISSING"))
        .collect()
      assert(seen.toSet === Set("xyz"))
    } finally spark.sparkContext.hadoopConfiguration.unset("graft.test.marker")
  }

  test("readText returns None for a missing path instead of throwing") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("fs_spec").toFile
    assert(Fs.readText(s"${dir.getPath}/nope/_marker", conf) === None)
    Fs.writeText(s"${dir.getPath}/_marker", "42", conf)
    assert(Fs.readText(s"${dir.getPath}/_marker", conf) === Some("42"))
    // delete between a reader's hypothetical exists() and open() — the
    // open-and-catch contract means a racing reader sees None, not FNF
    Fs.delete(s"${dir.getPath}/_marker", conf)
    assert(Fs.readText(s"${dir.getPath}/_marker", conf) === None)
  }

  private def dirWith(root: java.io.File, name: String, marker: String): String =
    plant(s"${root.getPath}/$name", marker)

  /** A directory `d` holding the marker file `m`. */
  private def plant(d: String, marker: String): String = {
    Fs.writeText(s"$d/m", marker, spark.sparkContext.hadoopConfiguration)
    d
  }

  test("recoverSwap: live missing, _old present (crash between the swap's " +
      "renames) restores _old as live") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = java.nio.file.Files.createTempDirectory("fs_recover").toFile
    val live = s"${root.getPath}/t"
    Fs.recoverSwap(live, conf) // nothing to recover: a no-op
    assert(!Fs.exists(live, conf))
    plant(Fs.oldDir(live), "before-crash")
    Fs.recoverSwap(live, conf)
    assert(Fs.readText(s"$live/m", conf) === Some("before-crash"))
    assert(!Fs.exists(Fs.oldDir(live), conf))
    // a swap on the recovered path replaces it normally
    dirWith(root, "t_next", "next")
    Fs.swapInPlace(live, s"${root.getPath}/t_next", conf)
    assert(Fs.readText(s"$live/m", conf) === Some("next"))
    assert(!Fs.exists(Fs.oldDir(live), conf))
  }

  test("recoverSwap: live and a stale _old both present (swap finished, " +
      "cleanup did not) deletes _old and keeps live; the next swap does " +
      "not nest into it") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = java.nio.file.Files.createTempDirectory("fs_stale").toFile
    val live = dirWith(root, "t", "current")
    plant(Fs.oldDir(live), "stale")
    Fs.recoverSwap(live, conf)
    assert(Fs.readText(s"$live/m", conf) === Some("current"))
    assert(!Fs.exists(Fs.oldDir(live), conf))
    // the same guard runs inside swapInPlace: with a stale old sibling in
    // place the swap still promotes the new directory and leaves none
    plant(Fs.oldDir(live), "stale")
    dirWith(root, "t_next", "next")
    Fs.swapInPlace(live, s"${root.getPath}/t_next", conf)
    assert(Fs.readText(s"$live/m", conf) === Some("next"))
    assert(!Fs.exists(Fs.oldDir(live), conf))
    assert(Fs.list(live, conf).forall(!_.isDirectory), "swap nested a directory")
  }

  /** Visible entries of `dir` (the local FS keeps `.crc` side files). */
  private def names(dir: String): Set[String] =
    Fs.list(dir, spark.sparkContext.hadoopConfiguration)
      .map(_.getPath.getName).filterNot(_.startsWith(".")).toSet

  test("replace clears a stale <live>.staging before write runs") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = java.nio.file.Files.createTempDirectory("fs_replace").toFile
    val live = dirWith(root, "t", "current")
    // a crashed rewrite's leftover, in a subdir a writer that overwrites
    // only its own subdir would not clear
    Fs.writeText(s"${Fs.stagingDir(live)}/left/m", "stale", conf)
    Fs.replace(live, conf) { staging =>
      assert(!Fs.exists(staging, conf), "stale staging dir not cleared")
      Fs.writeText(s"$staging/n", "next", conf)
    }
    assert(names(live) === Set("n"))
    assert(!Fs.exists(Fs.stagingDir(live), conf) && !Fs.exists(Fs.oldDir(live), conf))
  }

  test("replace: a write that throws leaves live untouched") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = java.nio.file.Files.createTempDirectory("fs_replace_fail").toFile
    val live = dirWith(root, "t", "current")
    val e = intercept[IllegalStateException] {
      Fs.replace(live, conf) { staging =>
        Fs.writeText(s"$staging/m", "half-written", conf)
        throw new IllegalStateException("write died")
      }
    }
    assert(e.getMessage === "write died")
    assert(Fs.readText(s"$live/m", conf) === Some("current"))
    assert(names(live) === Set("m") && !Fs.exists(Fs.oldDir(live), conf))
  }

  test("two threads recovering one crashed swap: one restore, neither " +
      "throws, no _old nested inside live") {
    val conf = spark.sparkContext.hadoopConfiguration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (1 to 40).foreach { round =>
      val root = java.nio.file.Files.createTempDirectory("fs_race").toFile
      val live = s"${root.getPath}/t"
      plant(Fs.oldDir(live), s"round-$round")
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val calls = Seq.fill(2)(pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { gate.await(); Fs.recoverSwap(live, conf) }
      }))
      calls.foreach(_.get()) // rethrows what either thread threw
      assert(Fs.readText(s"$live/m", conf) === Some(s"round-$round"))
      assert(!Fs.exists(Fs.oldDir(live), conf))
      assert(names(live) === Set("m"), "an old sibling was nested inside live")
    } finally pool.shutdown()
  }
}
