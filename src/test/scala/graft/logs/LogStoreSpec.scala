package graft.logs

import graft.SparkSpec
import graft.model.SyncState
import org.apache.spark.sql.functions._

class LogStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): LogStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft_logstore_").toFile
    dir.deleteOnExit()
    LogStore(spark, dir.getPath)
  }

  test("latest-wins view returns one row per key with newest values (S11/W1)") {
    val store = freshStore()
    store.append("sync_file",
      Seq((1L, "f1.json", SyncState.Ready), (2L, "f2.json", SyncState.Ready))
        .toDF("id", "file_name", "processed"))
    store.update("sync_file",
      Seq((1L, "f1.json", SyncState.Ingested)).toDF("id", "file_name", "processed"))
    val latest = store.latest("sync_file", Seq("id"))
      .orderBy("id").collect()
    assert(latest.length === 2)
    assert(latest(0).getAs[Int]("processed") === SyncState.Ingested)
    assert(latest(1).getAs[Int]("processed") === SyncState.Ready)
  }

  test("history keeps all versions; compact reduces to current") {
    val store = freshStore()
    store.append("t", Seq((1L, "a")).toDF("id", "v"))
    store.update("t", Seq((1L, "b")).toDF("id", "v"))
    store.update("t", Seq((1L, "c")).toDF("id", "v"))
    assert(store.history("t").count() === 3)
    store.compact("t", Seq("id"))
    assert(store.history("t").count() === 1)
    assert(store.latest("t", Seq("id")).select("v").as[String].collect().head === "c")
  }

  test("compactIfNeeded: below the file floor it is a pure FS probe (no " +
      "compaction); past it, it compacts, latest() is invariant, and the " +
      "rewrite restores the fast path") {
    val store = freshStore()
    // 6 appends on 2 keys: 12 history rows, 6 files
    (1 to 3).foreach { i =>
      store.append("t", Seq((1L, s"a$i"), (2L, s"b$i")).toDF("id", "v"))
      store.update("t", Seq((1L, s"a$i'"), (2L, s"b$i'")).toDF("id", "v"))
    }
    val before = store.latest("t", Seq("id")).orderBy("id")
      .as[(Long, String)].collect().toSeq
    // file floor not reached → untouched, zero Spark jobs
    assert(!store.compactIfNeeded("t", Seq("id"), minFiles = 64))
    assert(store.history("t").count() === 12L)
    // floor lowered → compacts; latest view identical, history bounded
    assert(store.compactIfNeeded("t", Seq("id"), minFiles = 2))
    assert(store.history("t").count() === 2L)
    assert(store.latest("t", Seq("id")).orderBy("id")
      .as[(Long, String)].collect().toSeq === before)
    // the rewrite coalesced (NOT shuffle-partitions-many part files), so
    // the file count sits back under the floor → fast-path no-op again
    val conf = spark.sparkContext.hadoopConfiguration
    val nFiles = graft.core.Fs.listFiles(s"${store.dir}/t", conf)
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(nFiles === 1, s"compact must coalesce, wrote $nFiles files")
    assert(!store.compactIfNeeded("t", Seq("id"), minFiles = 2))
  }

  test("compactIfNeeded fires on an append-only table (unique keys): the " +
      "rewrite merges small files while every logical row survives") {
    // file_ingestion_log's shape — each append is a NEW logical row, so
    // a version-bloat ratio could never fire; the file-count policy must
    val store = freshStore()
    (1 to 5).foreach(i =>
      store.append("log", Seq((s"f$i", s"FAC$i", i)).toDF("f", "fac", "n")))
    assert(store.compactIfNeeded("log", Seq("f", "fac"), minFiles = 3))
    assert(store.history("log").count() === 5L)
    assert(store.latest("log", Seq("f", "fac")).count() === 5L)
  }

  test("compactIfNeeded on a missing table is a no-op") {
    assert(!freshStore().compactIfNeeded("nope", Seq("id"), minFiles = 0))
  }

  test("compact swaps through the Hadoop FS API: green against a file:// URI") {
    // the swap must not assume java.nio local paths — an hdfs:// or
    // s3a:// log directory goes through the same Fs.rename protocol
    val dir = java.nio.file.Files.createTempDirectory("graft_fsuri_").toFile
    dir.deleteOnExit()
    val store = LogStore(spark, "file://" + dir.getPath)
    store.append("t", Seq((1L, "a")).toDF("id", "v"))
    store.update("t", Seq((1L, "b")).toDF("id", "v"))
    store.compact("t", Seq("id"))
    assert(store.history("t").count() === 1)
    assert(store.latest("t", Seq("id")).select("v").as[String].collect().head === "b")
  }

  test("a compact that died between its renames loses no history: a read " +
      "or an append restores <table>_old before the next compact") {
    val conf = spark.sparkContext.hadoopConfiguration
    val store = freshStore()
    val t = s"${store.dir}/t"
    val tOld = graft.core.Fs.oldDir(t)
    store.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    store.update("t", Seq((1L, "a2")).toDF("id", "v"))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "string")
    def view = store.latestOrEmpty("t", Seq("id"), schema)
      .orderBy("id").as[(Long, String)].collect().toSeq
    // the crash window: compact renamed t to its old sibling, then died
    // before promoting its staging dir. A read comes first here...
    graft.core.Fs.rename(t, tOld, conf)
    assert(view === Seq((1L, "a2"), (2L, "b")))
    store.compact("t", Seq("id"))
    // ...and an append with no read before it here
    graft.core.Fs.rename(t, tOld, conf)
    store.append("t", Seq((3L, "c")).toDF("id", "v"))
    store.compact("t", Seq("id"))
    assert(view === Seq((1L, "a2"), (2L, "b"), (3L, "c")))
    assert(!graft.core.Fs.exists(tOld, conf))
  }

  test("latestOrEmpty on a missing table returns an empty frame with schema") {
    val store = freshStore()
    val df = store.latestOrEmpty("nope", Seq("id"), graft.model.SchemaRegistry.syncFile)
    assert(df.count() === 0)
    assert(df.columns.contains("processed"))
  }

  test("version clock: strictly increasing and anchored to wall clock") {
    val before = System.currentTimeMillis() << 20
    val vs = (1 to 1000).map(_ => LogStore.nextVersion())
    val after = (System.currentTimeMillis() + 1) << 20
    assert(vs.sliding(2).forall(p => p(0) < p(1)), "strictly increasing")
    // anchored to wall time → comparable across JVM restarts (unlike
    // nanoTime's arbitrary per-JVM origin)
    assert(vs.head >= before && vs.last <= after + (1L << 20))
  }

  test("concurrent appends racing a compact lose no rows (writer lock)") {
    // 8 threads x 5 appends of distinct keys, one thread compacting
    // mid-stream: the in-process writer lock serializes the write jobs,
    // so no append interleaves with the compact's directory swap and
    // every key survives with its latest version
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_").toFile
    val store = LogStore(spark, dir.getPath)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val work = (1 to 8).map { t =>
        Future {
          (1 to 5).foreach { i =>
            store.append("races", Seq((t * 100L + i, s"v$t-$i")).toDF("id", "v"))
            if (t === 1 && i === 3) store.compact("races", Seq("id"))
          }
        }
      }
      Await.result(Future.sequence(work), Duration.Inf)
    } finally pool.shutdown()
    assert(store.latest("races", Seq("id")).count() === 40L)
  }

  test("state machine legality (SURVEY §1.1)") {
    assert(SyncState.canTransition(SyncState.Ready, SyncState.Ingested))
    assert(SyncState.canTransition(SyncState.Ready, SyncState.Failed))
    assert(SyncState.canTransition(SyncState.Ready, SyncState.MissingOrPast))
    assert(SyncState.canTransition(SyncState.Failed, SyncState.Ingested))
    assert(!SyncState.canTransition(SyncState.Ingested, SyncState.Ready))
    assert(!SyncState.canTransition(SyncState.JustUploaded, SyncState.Ingested))
    assert(SyncState.label(SyncState.Failed) === "failed")
  }

  test("asOf: snapshot reads see only versions up to the stamp") {
    val store = freshStore()
    val v0 = store.append("t", Seq((1L, "a"), (2L, "x")).toDF("id", "v"))
    val v1 = store.update("t", Seq((1L, "b")).toDF("id", "v"))
    val v2 = store.update("t", Seq((1L, "c"), (3L, "new")).toDF("id", "v"))
    assert(v0 < v1 && v1 < v2)
    def snap(v: Long) = store.asOf("t", Seq("id"), v)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(snap(v0) === Seq((1L, "a"), (2L, "x")))
    assert(snap(v1) === Seq((1L, "b"), (2L, "x")))
    // later-born keys are invisible before their first version
    assert(snap(v2) === Seq((1L, "c"), (2L, "x"), (3L, "new")))
    // asOf at the newest stamp ≡ latest
    assert(snap(v2) === store.latest("t", Seq("id"))
      .orderBy("id").as[(Long, String)].collect().toSeq)
    // no internal columns leak
    assert(snap(v1).nonEmpty && store.asOf("t", Seq("id"), v1).columns.toSeq
      === Seq("id", "v"))
  }

  test("asOf: versions() catalogs snapshots; compact bounds the travel window") {
    val store = freshStore()
    val v0 = store.append("t", Seq((1L, "a")).toDF("id", "v"))
    val v1 = store.update("t", Seq((1L, "b")).toDF("id", "v"))
    assert(store.versions("t").as[Long].collect().toSeq === Seq(v0, v1))
    store.compact("t", Seq("id"))
    // history is rewritten to one fresh version: the old stamps are gone
    val after = store.versions("t").as[Long].collect().toSeq
    assert(after.length === 1 && after.head > v1)
    assert(store.asOf("t", Seq("id"), v1).count() === 0)
    assert(store.asOf("t", Seq("id"), after.head)
      .as[(Long, String)].collect().toSeq === Seq((1L, "b")))
  }
}
