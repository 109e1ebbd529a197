package perfbench

import graft.model.SyncState
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: its inputs are a function of the seed, and
  * its output check notices a single wrong count.
  */
class SelfSpec extends AnyFunSuite {

  private val sizes = IngestWorkload.Sizes

  test("the ingest generator is deterministic for a fixed seed") {
    val a = IngestGen.batch(7L, 3, sizes, 1000L)
    val b = IngestGen.batch(7L, 3, sizes, 1000L)
    assert(a === b)
    assert(a.files.size === sizes.filesPerBatch)
    assert(a.files.map(_.entity).toSet === IngestGen.Entities.toSet)
    assert(a.files.exists(!_.clean), "some file should carry a bad date")
    assert(IngestGen.batch(8L, 3, sizes, 1000L) !== a)
    assert(IngestGen.batch(7L, 4, sizes, 1000L).files.map(_.content) !== a.files.map(_.content))
  }

  test("the table generator is deterministic for a fixed seed") {
    assert(TableGen.documentRows(7L, 200) === TableGen.documentRows(7L, 200))
    assert(TableGen.documentRows(7L, 200) !== TableGen.documentRows(8L, 200))
  }

  test("the output check passes on the manifest and fails on one perturbed count") {
    val batch = IngestGen.batch(7L, 1, sizes, 1000L)
    val exp = IngestWorkload.Expect(batch)
    val logs = exp.logStatuses.map { case (k, v) => k -> Seq(v) }
    def check(rows: Map[String, (Long, Long)] = exp.rows, pii: Long = 0L,
              sync: Map[Long, Int] = exp.syncStates,
              log: Map[(String, String), Seq[String]] = logs) =
      IngestWorkload.mismatches(exp, rows, pii, sync, log)

    assert(check().isEmpty)
    val (t, (valid, bad)) = exp.rows.head
    assert(check(rows = exp.rows.updated(t, (valid + 1, bad))).nonEmpty)
    assert(check(rows = exp.rows.updated(t, (valid, bad + 1))).nonEmpty)
    assert(check(pii = 1L).nonEmpty)
    val (id, state) = exp.syncStates.head
    val other = if (state == SyncState.Ingested) SyncState.Failed else SyncState.Ingested
    assert(check(sync = exp.syncStates.updated(id, other)).nonEmpty)
    assert(check(log = logs.updated(logs.head._1, Seq("success", "success"))).nonEmpty)
  }
}
