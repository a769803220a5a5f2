package graft

import graft.core.CrawlConfig
import graft.fixtures.Fixtures
import graft.frontier.DistBloomBank
import graft.pipeline.Crawler
import graft.snapshot.SnapshotStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

import scala.jdk.CollectionConverters._

/** The bloom tier's lifecycle: each seen-chain part carries one filter set
  * sized to its keys, the bank is the union of the parts' sets, a resumed
  * crawl saves the banks an uninterrupted one does, each round runs the
  * probe's filter pass once, and urls reach their filters through
  * Catalyst exchanges: the crawl runs no RDD shuffle.
  */
class BloomLifecycleSpec extends SparkSpec {
  import BloomLifecycleSpec.CrawlRun

  val config: CrawlConfig = CrawlConfig(
    maxRounds = 3,
    seenPartitions = 8,
    bloomExpectedPerPartition = 100000L)

  lazy val seeds = Fixtures.seeds(400)

  /** Runs `body` with jobs tagged `tag`, feeding their events to `listener`. */
  private def listening[T](tag: String, listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try body
    finally {
      sc.setLocalProperty("graft.test.tag", null)
      org.apache.spark.GraftBridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
  }

  /** Crawls 3 rounds into a new store; counts the tasks that ran the
    * probe's filter pass (those reporting a non-zero update of the probe's
    * pass accumulator: a task that only reads the probed rows from a
    * cache reports none, though its stage's lineage lists the probe), the
    * filter sets built (one mapPartitions pass in BloomBank.scala per set)
    * and the shuffles its stages read: the call sites of RDD-API ones
    * (`ShuffledRDD`) and the number of Catalyst ones (`ShuffledRowRDD`).
    */
  private def crawl(collapseEvery: Int): CrawlRun = {
    import spark.implicits._
    val tag = s"bloom-lifecycle-$collapseEvery"
    val taggedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val probeTasks = new java.util.concurrent.atomic.AtomicInteger()
    val builds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val rddShuffles = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val rowShuffles = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.tag") == tag)) {
          taggedStages.add(e.stageInfo.stageId)
          e.stageInfo.rddInfos
            .filter(r => r.callSite.contains("BloomBank.scala") && r.callSite.startsWith("mapPartitions"))
            .foreach(r => builds.add(r.id))
          e.stageInfo.rddInfos.filter(_.name == "ShuffledRDD").foreach(r => rddShuffles.add(r.callSite))
          e.stageInfo.rddInfos.filter(_.name == "ShuffledRowRDD").foreach(r => rowShuffles.add(r.id))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (taggedStages.contains(e.stageId) &&
            e.taskInfo.accumulables.exists(_.name.contains(DistBloomBank.ProbePasses)))
          probeTasks.incrementAndGet()
    }
    val store = new SnapshotStore(tempDir("graft-bloom-lifecycle"))
    listening(tag, listener) {
      new Crawler(spark, config.copy(collapseEvery = collapseEvery), store.root)
        .run(spark.createDataset(seeds))
    }
    assert(store.latestRound().contains(2), "test vacuous: the crawl must commit 3 rounds")
    CrawlRun(store, probeTasks.get, builds.size, rddShuffles.asScala.toSeq, rowShuffles.size)
  }

  lazy val everyRound: CrawlRun = crawl(collapseEvery = 1)
  lazy val default: CrawlRun = crawl(collapseEvery = config.collapseEvery)

  test("the probe's filter pass runs once per probed round: width tasks each") {
    // rounds 1 and 2 are probed (round 0 has no history)
    assert(default.probeTasks == 2 * config.seenPartitions)
    assert(everyRound.probeTasks == 2 * config.seenPartitions)
  }

  test("a 3-round crawl runs no RDD-API shuffle: every exchange is Catalyst's") {
    // an RDD's call site names the first frame outside Spark: the graft
    // line that asked for the shuffle
    for (run <- Seq(everyRound, default)) {
      assert(run.rowShuffles > 0, "test vacuous: no Catalyst exchange was read")
      assert(run.rddShuffles.isEmpty, s"RDD-API shuffles at ${run.rddShuffles.mkString(", ")}")
    }
  }

  test("a round's seen rows get one filter set: a new part's or the collapse's, never both") {
    // collapseEvery = 1: round 0 starts a part, rounds 1 and 2 fold
    // straight into the collapsed base part
    assert(everyRound.filterSetBuilds == 3)
    assert(default.filterSetBuilds == 3)
  }

  for ((name, ce, run) <- Seq(("1", 1, () => everyRound), ("the default", 8, () => default)))
    test(s"last saved bank at collapseEvery = $name: no false negatives, FPP and bits/key sized to its keys") {
      import spark.implicits._
      val store = run().store
      val bank = DistBloomBank.load(spark, store.bloomPath(2)).get
      assert(bank.width == config.seenPartitions)
      val seen = store.read(spark, "seen").get.select($"canonUrl".as("canon"))
      val nSeen = seen.count()
      assert(nSeen > 500, s"test vacuous: only $nSeen seen urls")
      val missed = DistBloomBank.probe(seen, "canon", bank, "maybe").filter(!$"maybe")
        .select("canon").as[String].take(3)
      assert(missed.isEmpty, s"bloom false negatives: ${missed.mkString(", ")}")

      val fresh = (0 until 20000).map(i => s"https://never-seen.example.invalid/p/$i").toDF("canon")
      val fpp = DistBloomBank.probe(fresh, "canon", bank, "maybe").filter($"maybe").count()
        .toDouble / 20000
      assert(fpp <= 1.5 * config.bloomFpp, f"realized FPP $fpp%.4f vs target ${config.bloomFpp}")

      val bitsPerKey = bank.rdd.map(_._2.length.toLong).sum() * 8.0 / nSeen
      val rule = 1.44 * math.log((ce + 1) / config.bloomFpp) / math.log(2)
      assert(bitsPerKey <= 1.5 * rule, f"$bitsPerKey%.1f bits/key vs sizing rule $rule%.1f")
    }

  test("a crawl resumed after every round saves the same banks and rows as an uninterrupted one") {
    // collapseEvery = 3 over 4 rounds: round parts at rounds 1 and 2, the
    // collapse into a new base at round 3
    import spark.implicits._
    val cfg = config.copy(maxRounds = 4, collapseEvery = 3)
    val ds = spark.createDataset(seeds)
    val whole = new SnapshotStore(tempDir("graft-bloom-whole"))
    new Crawler(spark, cfg, whole.root).run(ds)
    val resumed = new SnapshotStore(tempDir("graft-bloom-resumed"))
    for (r <- 0 until 4) new Crawler(spark, cfg.copy(maxRounds = r + 1), resumed.root).run(ds)
    assert(whole.latestRound().contains(3) && resumed.latestRound().contains(3),
      "test vacuous: both crawls must commit 4 rounds")
    def bank(store: SnapshotStore, round: Int): Map[Int, Seq[String]] =
      DistBloomBank.load(spark, store.bloomPath(round)).get.rdd.collect().toSeq.groupBy(_._1)
        .map { case (pid, fs) => pid -> fs.map(f => java.util.Base64.getEncoder.encodeToString(f._2)).sorted }
    def rows(store: SnapshotStore, table: String, round: Int) =
      store.read(spark, table, minRound = round, maxRound = round).get.orderBy("seq").collect().toSeq
    for (r <- 0 until 4) {
      val sameBank = bank(resumed, r) == bank(whole, r)
      assert(sameBank, s"round $r: the resumed crawl saved another bank")
      for (t <- Seq("seen", "crawl_log", "docs"))
        assert(rows(resumed, t, r) == rows(whole, t, r), s"round $r: the resumed crawl wrote other $t rows")
    }
  }

  /** Records written while `body` runs by the map stages of RDD-API
    * shuffles created in BloomBank.scala (feeding a `ShuffledRDD`) and of
    * Catalyst exchanges (feeding a `ShuffledRowRDD`), in that order.
    */
  private def shuffleRecords(tag: String)(body: => Unit): (Long, Long) = {
    val rddMapSides = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val rowMapSides = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.tag") == tag))
          e.stageInfos.flatMap(_.rddInfos).foreach { r =>
            if (r.name == "ShuffledRDD" && r.callSite.contains("BloomBank.scala"))
              r.parentIds.foreach(rddMapSides.add)
            if (r.name == "ShuffledRowRDD") r.parentIds.foreach(rowMapSides.add)
          }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        // rddInfos.head is the stage's own (last) RDD: what a map stage writes
        written.put(e.stageInfo.stageId, (e.stageInfo.rddInfos.head.id,
          e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten))
    }
    listening(tag, listener)(body)
    def total(mapSides: java.util.Set[Int]): Long =
      written.values.asScala.collect { case (id, n) if mapSides.contains(id) => n }.sum
    (total(rddMapSides), total(rowMapSides))
  }

  test("urls reach their filters through Catalyst exchanges: the build and the probe run no RDD shuffle") {
    import spark.implicits._
    val width = config.seenPartitions
    val urls = (0 until 4000).map(i => s"https://route.example.org/post/$i").toDF("canon")
    var bank: DistBloomBank.Bank = null
    val (builtRdd, builtRows) = shuffleRecords("bloom-routing-build") {
      bank = DistBloomBank.buildRound(urls, "canon", width, 100000L, 0.01).persist()
      bank.count()
    }
    assert(builtRows == 4000L, s"test vacuous: the build's exchanges wrote $builtRows of 4000 urls")
    assert(builtRdd == 0L, s"the build's RDD shuffles wrote $builtRdd records")

    val cands = (0 until 3000).map(i => s"https://route.example.org/post/${2 * i}").toDF("canon")
    var hits = 0L
    val (probedRdd, probedRows) = shuffleRecords("bloom-routing-probe") {
      hits = DistBloomBank.probe(cands, "canon", bank, "maybe").filter($"maybe").count()
    }
    // (the count's exchange adds a partial count per partition)
    assert(probedRows >= 3000L, s"test vacuous: the probe's exchanges wrote $probedRows of 3000 urls")
    assert(probedRdd == 0L, s"the probe's RDD shuffles wrote $probedRdd records")
    assert(hits >= 2000, s"bloom false negatives: only $hits of 2000 inserted candidates flagged")
    bank.unpersist()
  }
}

object BloomLifecycleSpec {
  final case class CrawlRun(store: SnapshotStore, probeTasks: Int, filterSetBuilds: Int,
      rddShuffles: Seq[String], rowShuffles: Int)
}
