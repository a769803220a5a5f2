package graft

import graft.core.CrawlConfig
import graft.fixtures.Fixtures
import graft.frontier.DistBloomBank
import graft.pipeline.Crawler
import graft.snapshot.SnapshotStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** The bloom tier's lifecycle: each seen-chain part carries one filter set
  * sized to its keys, the bank is the union of the parts' sets, and each
  * round runs the probe's filter pass once.
  */
class BloomLifecycleSpec extends SparkSpec {

  val config: CrawlConfig = CrawlConfig(
    maxRounds = 3,
    seenPartitions = 8,
    bloomExpectedPerPartition = 100000L)

  lazy val seeds = Fixtures.seeds(400)

  /** Crawls 3 rounds into a new store; returns the store and the number of
    * tasks that ran the probe's filter pass (the stage zipping candidates
    * with the bank's blobs).
    */
  private def crawl(collapseEvery: Int): (SnapshotStore, Int) = {
    import spark.implicits._
    val sc = spark.sparkContext
    val tag = s"bloom-lifecycle-$collapseEvery"
    val probeStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val probeTasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.tag") == tag) &&
            e.stageInfo.rddInfos.exists(r =>
              r.name.startsWith("ZippedPartitionsRDD") && r.callSite.contains("BloomBank.scala")))
          probeStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (probeStages.contains(e.stageId)) probeTasks.incrementAndGet()
    }
    val store = new SnapshotStore(tempDir("graft-bloom-lifecycle"))
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try new Crawler(spark, config.copy(collapseEvery = collapseEvery), store.root)
      .run(spark.createDataset(seeds))
    finally {
      sc.setLocalProperty("graft.test.tag", null)
      org.apache.spark.GraftTestBridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    assert(store.latestRound().contains(2), "test vacuous: the crawl must commit 3 rounds")
    (store, probeTasks.get)
  }

  lazy val everyRound: (SnapshotStore, Int) = crawl(collapseEvery = 1)
  lazy val default: (SnapshotStore, Int) = crawl(collapseEvery = config.collapseEvery)

  test("the probe's filter pass runs once per probed round: width tasks each") {
    // rounds 1 and 2 are probed (round 0 has no history)
    assert(default._2 == 2 * config.seenPartitions)
    assert(everyRound._2 == 2 * config.seenPartitions)
  }

  for ((name, ce, run) <- Seq(("1", 1, () => everyRound), ("the default", 8, () => default)))
    test(s"last saved bank at collapseEvery = $name: no false negatives, FPP and bits/key sized to its keys") {
      import spark.implicits._
      val store = run()._1
      val bank = DistBloomBank.load(spark, store.bloomPath(2)).get
      assert(bank.width == config.seenPartitions)
      val local = DistBloomBank.toLocal(bank)
      val seen = store.read(spark, "seen").get.select("canonUrl").as[String].collect()
      assert(seen.length > 500, s"test vacuous: only ${seen.length} seen urls")
      seen.foreach(u => assert(local.mightContain(u), s"bloom false negative: $u"))

      val fresh = (0 until 20000).map(i => s"https://never-seen.example.invalid/p/$i")
      val fpp = fresh.count(local.mightContain).toDouble / fresh.size
      assert(fpp <= 1.5 * config.bloomFpp, f"realized FPP $fpp%.4f vs target ${config.bloomFpp}")

      val bitsPerKey = bank.rdd.map(_._2.length.toLong).sum() * 8.0 / seen.length
      val rule = 1.44 * math.log((ce + 1) / config.bloomFpp) / math.log(2)
      assert(bitsPerKey <= 1.5 * rule, f"$bitsPerKey%.1f bits/key vs sizing rule $rule%.1f")
    }
}
