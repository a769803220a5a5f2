package graft

import graft.snapshot.SnapshotStore

/** SnapshotStore's resource handling and commit failure path. */
class SnapshotStoreSpec extends SparkSpec {

  private def openFds(): Int = new java.io.File("/proc/self/fd").list().length

  test("committedRounds closes its directory listing") {
    import spark.implicits._
    val store = new SnapshotStore(tempDir("graft-store-fds"))
    store.commit(0, Map("t" -> Seq(1).toDF("k")))
    val before = openFds()
    (0 until 1000).foreach(_ => assert(store.committedRounds() == Seq(0)))
    val grown = openFds() - before
    assert(grown < 50, s"$grown file descriptors leaked by 1,000 listings")
  }

  test("a failed commit rethrows only after every other write has finished") {
    val store = new SnapshotStore(tempDir("graft-store-await"))
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[RuntimeException] {
      store.commit(0, Map.empty, alsoParallel = Seq(
        () => throw new RuntimeException("injected write failure"),
        () => { Thread.sleep(1000); slowDone.set(true) }))
    }
    assert(e.getMessage == "injected write failure")
    assert(slowDone.get, "commit threw while another write was still running")
    assert(store.latestRound().isEmpty, "manifest must not exist after a failed write")
  }
}
