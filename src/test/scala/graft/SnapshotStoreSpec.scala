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

  /** A host_state-like store: round 0 touches a, b and c; round 1
    * touches a and b and commits a base (every key, c carried from round
    * 0); rounds 2 and 3 commit deltas touching a and b.
    */
  private def foldStore(): SnapshotStore = {
    import spark.implicits._
    val store = new SnapshotStore(tempDir("graft-store-fold"))
    Seq(0 -> Seq("a" -> 0, "b" -> 0, "c" -> 0), 1 -> Seq("a" -> 1, "b" -> 1, "c" -> 0),
        2 -> Seq("a" -> 2), 3 -> Seq("a" -> 3, "b" -> 3)).foreach { case (r, rows) =>
      store.commit(r, Map("state" -> rows.toDF("k", "v")))
    }
    store
  }

  private def folded(store: SnapshotStore, maxRound: Int, minRound: Int): Map[String, Int] = {
    import spark.implicits._
    store.readFoldedLatest(spark, "state", Seq("k"), maxRound, minRound).get
      .as[(String, Int)].collect().toMap
  }

  test("a one-round fold is a plain read: no window, no exchange") {
    val store = foldStore()
    val plan = store.readFoldedLatest(spark, "state", Seq("k"), 2, 2).get.queryExecution.executedPlan
    val nodes = plan.collect { case p => p.nodeName }
    assert(!nodes.exists(n => n.contains("Window") || n.contains("Exchange")),
      s"a one-round fold planned ${nodes.mkString(", ")}")
    assert(folded(store, 2, 2) == Map("a" -> 2))
  }

  test("a fold over a base round and two deltas is latest-round-wins") {
    val store = foldStore()
    assert(folded(store, 3, 1) == Map("a" -> 3, "b" -> 3, "c" -> 0))
    assert(folded(store, 2, 1) == Map("a" -> 2, "b" -> 1, "c" -> 0))
    // the whole history folds to the same state
    assert(folded(store, 3, 0) == folded(store, 3, 1))
  }

  test("a multi-round fold is one scan and one exchange, which a join on the key reuses") {
    import spark.implicits._
    val store = foldStore()
    def count(plan: org.apache.spark.sql.execution.SparkPlan) = {
      val nodes = planNodes(plan)
      (nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
        nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]))
    }
    val fold = store.readFoldedLatest(spark, "state", Seq("k"), 3, 1).get
    fold.collect() // the final adaptive plan
    assert(count(fold.queryExecution.executedPlan) == (1, 1))
    // a state too big to broadcast: the join shuffles the other side only
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val joined = Seq("a", "b", "c", "d").toDF("k").join(fold, Seq("k"), "left")
      assert(joined.as[(String, Option[Int])].collect().toMap ==
        Map("a" -> Some(3), "b" -> Some(3), "c" -> Some(0), "d" -> None))
      assert(count(joined.queryExecution.executedPlan) == (1, 2))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a fold from a base returns the keys whose last delta came before it") {
    val store = foldStore()
    // c was last touched in round 0, outside a fold from round 1: only the
    // base carries it
    assert(folded(store, 3, 2) == Map("a" -> 3, "b" -> 3), "test vacuous: c must need the base")
    assert(folded(store, 3, 1).get("c").contains(0))
  }
}

object SnapshotStoreSpec {
  /** Set by the slow table's UDF (tasks run in this JVM under a local master). */
  val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
}
