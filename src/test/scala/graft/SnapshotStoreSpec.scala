package graft

import graft.snapshot.SnapshotStore
import org.apache.spark.sql.functions.udf

/** SnapshotStore's resource handling, commit failure path and read plan. */
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
    import spark.implicits._
    val store = new SnapshotStore(tempDir("graft-store-await"))
    SnapshotStoreSpec.slowDone.set(false)
    val boom = udf { (_: Long) => throw new RuntimeException("injected write failure"); 0L }
    val slow = udf { (id: Long) => Thread.sleep(1000); SnapshotStoreSpec.slowDone.set(true); id }
    val e = intercept[Exception] {
      store.commit(0, Map(
        "failing" -> spark.range(1).select(boom($"id").as("x")),
        "slow" -> spark.range(1).select(slow($"id").as("x"))))
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.getMessage == "injected write failure"), s"unexpected failure: $e")
    assert(SnapshotStoreSpec.slowDone.get, "commit threw while another write was still running")
    assert(store.latestRound().isEmpty, "manifest must not exist after a failed write")
  }

  test("a round range is read with one parquet scan") {
    import spark.implicits._
    val store = new SnapshotStore(tempDir("graft-store-scan"))
    (0 until 3).foreach(r => store.commit(r, Map("seen" -> Seq(s"u$r").toDF("canonUrl"))))
    val seen = store.read(spark, "seen").get
    val scans = seen.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"${scans.size} scans for 3 rounds")
    assert(seen.as[String].collect().sorted.toSeq == Seq("u0", "u1", "u2"))
    assert(store.read(spark, "seen", minRound = 1, maxRound = 1).get.as[String].collect().toSeq == Seq("u1"))
  }
}

object SnapshotStoreSpec {
  /** Set by the slow table's UDF (tasks run in this JVM under a local master). */
  val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
}
