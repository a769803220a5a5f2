package graft

import graft.core._
import graft.fixtures.Fixtures
import graft.oracle.SequentialOracle
import graft.pipeline.Crawler
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** THE north-rule correctness gate (BASELINE.json): the Spark pipeline's
  * committed crawl-order log, URL-seen set, and interleaved span-doc table
  * must exactly equal the sequential oracle replaying the reference
  * crawler's semantics over the same fixtures — crawl order as the
  * deterministic (round, seq) sort key, first-wins dedup, per-domain
  * backoff/suspension state, parser fallback, robots budget. Jitter is
  * disabled in parity mode (precedent: rate_limiter.py:107-114).
  */
class CrawlParitySpec extends SparkSpec {

  val config: CrawlConfig = CrawlConfig(
    maxRounds = 2,
    seenPartitions = 8,
    bloomExpectedPerPartition = 100000L)

  lazy val seeds: IndexedSeq[SeedRecord] = Fixtures.seeds(600)
  lazy val oracle: SequentialOracle.OracleResult = SequentialOracle.run(seeds, config)

  lazy val storeRoot: String = {
    val dir = tempDir("graft-parity")
    import spark.implicits._
    val crawler = new Crawler(spark, config, dir)
    crawler.run(spark.createDataset(seeds))
    dir
  }

  test("fixture sanity: dups, faults, multiple hosts present") {
    val canon = seeds.map(s => UrlCanon.canonicalize(s.url))
    assert(canon.distinct.size < canon.size, "expected duplicate seeds")
    assert(oracle.crawlLog.exists(_.status == "fetch_failed"), "expected fetch failures")
    assert(oracle.crawlLog.map(_.host).distinct.size > 5)
    assert(oracle.docs.nonEmpty)
  }

  test("crawl-order log parity (round, seq, url, canon, host, status, attempts)") {
    import spark.implicits._
    val got = spark.read.parquet(s"$storeRoot/data/crawl_log/round=0", s"$storeRoot/data/crawl_log/round=1")
      .orderBy("seq")
      .as[CrawlLogEntry].collect().toVector
    assert(got.size == oracle.crawlLog.size,
      s"log size ${got.size} vs oracle ${oracle.crawlLog.size}")
    got.zip(oracle.crawlLog.sortBy(_.seq)).foreach { case (g, o) =>
      assert(g == o, s"mismatch at seq ${o.seq}")
    }
  }

  test("URL-seen set parity, including schedule order") {
    import spark.implicits._
    val got = spark.read.parquet(s"$storeRoot/data/seen/round=0", s"$storeRoot/data/seen/round=1")
      .orderBy("seq").select("canonUrl").as[String].collect().toVector
    assert(got == oracle.seen)
  }

  test("per-row span-sequence parity (kind, text, media_ref, order)") {
    import spark.implicits._
    val got = spark.read.parquet(s"$storeRoot/data/docs/round=0", s"$storeRoot/data/docs/round=1")
      .select($"doc_id", $"spans").as[Doc].collect()
      .map(d => d.doc_id -> d.spans.toVector).toMap
    val want = oracle.docs.map(d => d.doc.doc_id -> d.doc.spans.toVector).toMap
    assert(got.keySet == want.keySet,
      s"doc ids differ: extra=${(got.keySet -- want.keySet).take(3)} missing=${(want.keySet -- got.keySet).take(3)}")
    want.foreach { case (id, spans) =>
      assert(got(id) == spans, s"span mismatch for $id")
    }
    // media spans exist and are interleaved (not all trailing)
    val withMedia = want.values.filter(_.exists(_.kind == "media"))
    assert(withMedia.nonEmpty, "expected media spans in corpus")
    assert(withMedia.exists { spans =>
      val kinds = spans.map(_.kind)
      kinds.indexOf("media") < kinds.lastIndexOf("body")
    }, "expected at least one media span interleaved before a body span")
  }

  test("suspension path exercised and matches") {
    val oSusp = oracle.crawlLog.filter(_.status == "suspended")
    assert(oSusp.nonEmpty, "fixtures should trigger at least one domain suspension")
  }

  test("resume from checkpoint: stopping after round 0 and resuming matches the full run") {
    import spark.implicits._
    val dir = tempDir("graft-resume")
    val c1 = new Crawler(spark, config.copy(maxRounds = 1), dir)
    c1.run(spark.createDataset(seeds))
    assert(new graft.snapshot.SnapshotStore(dir).latestRound().contains(0))
    // resume with full round budget — must pick up at round 1
    val c2 = new Crawler(spark, config, dir)
    c2.run(spark.createDataset(seeds))
    val got = spark.read.parquet(s"$dir/data/crawl_log/round=0", s"$dir/data/crawl_log/round=1")
      .orderBy("seq").as[CrawlLogEntry].collect().toVector
    assert(got == oracle.crawlLog.sortBy(_.seq))
  }

  test("resume after TWO rounds folds host-state deltas latest-round-wins") {
    import spark.implicits._
    val cfg3 = config.copy(maxRounds = 3)
    val oracle3 = graft.oracle.SequentialOracle.run(seeds, cfg3)
    val dir = tempDir("graft-resume-delta")
    new Crawler(spark, cfg3.copy(maxRounds = 2), dir).run(spark.createDataset(seeds))
    val store = new graft.snapshot.SnapshotStore(dir)
    assert(store.latestRound().contains(1))
    // the committed host_state tables are DELTAS: rounds overlap on some
    // (host, lane) keys with different values, else the fold is vacuous
    val d0 = spark.read.parquet(store.tablePath("host_state", 0))
      .select("host", "lane", "virtualTime").as[(String, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val d1 = spark.read.parquet(store.tablePath("host_state", 1))
      .select("host", "lane", "virtualTime").as[(String, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val overlap = d0.keySet & d1.keySet
    assert(overlap.nonEmpty, "test vacuous: rounds must touch shared keys")
    assert(overlap.exists(k => d0(k) != d1(k)),
      "test vacuous: an overlapped key must change state between rounds")
    // deltas must really be deltas: round 1 commits only its touched keys,
    // not the whole accumulated table — here that means no key that went
    // quiet, which at minimum keeps |delta| ≤ |touched frontier hosts|
    val r1Hosts = spark.read.parquet(store.tablePath("crawl_log", 1))
      .select("host").distinct().as[String].collect().toSet
    assert(d1.keySet.map(_._1).subsetOf(r1Hosts),
      "round 1 host_state contains hosts the round never touched")
    // resume round 2: the folded state must continue the state machine
    // exactly (a stale round-0 row would desync retry/suspension/clocks)
    new Crawler(spark, cfg3, dir).run(spark.createDataset(seeds))
    val got = spark.read.parquet(
      s"$dir/data/crawl_log/round=0", s"$dir/data/crawl_log/round=1",
      s"$dir/data/crawl_log/round=2")
      .orderBy("seq").as[CrawlLogEntry].collect().toVector
    assert(got == oracle3.crawlLog.sortBy(_.seq))
  }

  test("resume under a CHANGED seenPartitions config: no re-crawl, exact parity") {
    // the ADVICE-flagged failure mode: round-2 banks loaded at the resume
    // config's width, probing the wrong filters → bloom 'false' (treated as
    // definitely-new) → silent re-crawl of seen URLs. Banks are now
    // self-describing; a width change must leave the crawl byte-identical.
    import spark.implicits._
    val dir = tempDir("graft-resume-width")
    new Crawler(spark, config.copy(maxRounds = 1), dir).run(spark.createDataset(seeds))
    // change the ENTIRE bank geometry (width 8→5, expected, fpp): the
    // resumed crawl builds one filter set from the seen chain at the new
    // width and probes at that width only (no saved filter is reused)
    val c2 = new Crawler(spark, config.copy(seenPartitions = 5,
      bloomExpectedPerPartition = 50000L, bloomFpp = 0.03), dir)
    c2.run(spark.createDataset(seeds))
    val got = spark.read.parquet(s"$dir/data/crawl_log/round=0", s"$dir/data/crawl_log/round=1")
      .orderBy("seq").as[CrawlLogEntry].collect().toVector
    assert(got == oracle.crawlLog.sortBy(_.seq))
    val seen = spark.read.parquet(s"$dir/data/seen/round=0", s"$dir/data/seen/round=1")
      .orderBy("seq").select("canonUrl").as[String].collect().toVector
    assert(seen == oracle.seen, "duplicate/missing URLs after width-changed resume")
  }

  test("resume from a geometry-less (old-format) bank: rebuilt from seen, no re-crawl") {
    // a resume never reads the saved bank: its filter set is built from the
    // seen chain, so a bank covering only post-resume rounds (whose
    // authoritative 'definitely new' would re-crawl pre-resume URLs) can
    // never be installed, whatever format the saved bank has
    import spark.implicits._
    val cfg3 = config.copy(maxRounds = 3)
    val seeds3 = Fixtures.seeds(200)
    val oracle3 = SequentialOracle.run(seeds3, cfg3)
    val dir = tempDir("graft-resume-oldbank")
    new Crawler(spark, cfg3.copy(maxRounds = 1), dir).run(spark.createDataset(seeds3))
    // strip the geometry columns, simulating a pre-geometry-format bank
    val bankPath = new graft.snapshot.SnapshotStore(dir).bloomPath(0)
    val old = spark.read.parquet(bankPath).select("pid", "filter").collect()
    val oldSchema = org.apache.spark.sql.types.StructType(
      spark.read.parquet(bankPath).schema.fields.filter(f => Set("pid", "filter")(f.name)))
    spark.createDataFrame(java.util.Arrays.asList(old: _*), oldSchema)
      .write.mode("overwrite").parquet(bankPath)
    new Crawler(spark, cfg3, dir).run(spark.createDataset(seeds3)) // rounds 1-2
    val store = new graft.snapshot.SnapshotStore(dir)
    val got = store.read(spark, "crawl_log").get
      .orderBy("seq").as[CrawlLogEntry].collect().toVector
    assert(got == oracle3.crawlLog.sortBy(_.seq),
      "re-crawled or missing URLs after old-format-bank resume")
    val seen = store.read(spark, "seen").get.orderBy("seq")
      .select("canonUrl").as[String].collect().toVector
    assert(seen == oracle3.seen)
    assert(seen.distinct.size == seen.size, "duplicate seen rows = re-crawl")
  }

  test("seen-chain collapse + bank rebuild every round leaves parity intact") {
    // collapseEvery=1 drives the (otherwise 8-round) collapse cycle —
    // including the new filter set built for the collapsed part — on
    // every round of a 3-round crawl; results must be byte-identical
    import spark.implicits._
    val cfgC = config.copy(maxRounds = 3, collapseEvery = 1)
    val seedsC = Fixtures.seeds(200)
    val oracleC = SequentialOracle.run(seedsC, cfgC)
    val dir = tempDir("graft-collapse")
    new Crawler(spark, cfgC, dir).run(spark.createDataset(seedsC))
    val store = new graft.snapshot.SnapshotStore(dir)
    val got = store.read(spark, "crawl_log").get
      .orderBy("seq").as[CrawlLogEntry].collect().toVector
    assert(got == oracleC.crawlLog.sortBy(_.seq))
    val seen = store.read(spark, "seen").get.orderBy("seq")
      .select("canonUrl").as[String].collect().toVector
    assert(seen == oracleC.seen)
  }

  test("three-round crawl parity (deeper frontier expansion)") {
    import spark.implicits._
    val cfg3 = config.copy(maxRounds = 3)
    val seeds3 = Fixtures.seeds(200)
    val oracle3 = SequentialOracle.run(seeds3, cfg3)
    val dir = tempDir("graft-parity3")
    new Crawler(spark, cfg3, dir).run(spark.createDataset(seeds3))
    val store = new graft.snapshot.SnapshotStore(dir)
    val got = store.read(spark, "crawl_log").get
      .orderBy("seq").as[CrawlLogEntry].collect().toVector
    assert(got == oracle3.crawlLog.sortBy(_.seq))
    assert(got.map(_.round).distinct.sorted == Vector(0, 1, 2))
    val seen = store.read(spark, "seen").get.orderBy("seq")
      .select("canonUrl").as[String].collect().toVector
    assert(seen == oracle3.seen)
  }

  test("superseded checkpoints are freed eagerly and every persisted frame is disk-backed") {
    // each round frees what it supersedes at once, so what a crawl holds
    // persisted stays flat in its round count (collapseEvery = 1: steady
    // from round 1 on), and every level the crawl persists at (caches,
    // the bank, the fetch outcome) must spill to disk rather than drop a
    // block under memory pressure.
    import spark.implicits._
    val sc = spark.sparkContext
    val tag = "checkpoint-policy"
    val levels = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.storage.StorageLevel]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.tag") == tag))
          e.stageInfo.rddInfos.foreach(i => levels.add(i.storageLevel))
    }
    val before = sc.getPersistentRDDs.keySet
    val crawler = new Crawler(spark, config.copy(maxRounds = 4, collapseEvery = 1),
      tempDir("graft-checkpoint-policy"))
    var cands = crawler.seedCandidates(spark.createDataset(Fixtures.seeds(200)))
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    val held = try (0 until 4).map { round =>
      crawler.runRound(round, cands)
      cands = crawler.candidatesFromStore(round + 1)
      assert(round == 3 || !cands.isEmpty, s"test vacuous: round $round discovered no candidates")
      (sc.getPersistentRDDs -- before).map { case (id, r) => id -> r.getStorageLevel }
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      org.apache.spark.GraftBridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    assert(held(3).size <= held(1).size,
      s"persisted RDDs after 4 rounds: ${held(3).size}, after 2: ${held(1).size}")
    // the seen part's cache and its filter set: nothing else crosses rounds
    held.drop(1).foreach(h => assert(h.size <= 2, s"${h.size} persisted RDDs held between rounds"))
    held.flatten.foreach { case (id, l) => assert(l.useDisk, s"RDD $id persisted at $l") }
    val persistedLevels = levels.asScala.filter(_.isValid).toSet
    persistedLevels.foreach(l => assert(l.useDisk, s"a crawl stage read an RDD persisted at $l"))
    assert(persistedLevels.exists(l => l.useDisk && !l.useMemory),
      "test vacuous: the DISK_ONLY fetch outcome was never read")
  }

  for (ce <- Seq(1, 8))
    test(s"a crawl that loses every persisted block between rounds still matches the oracle (collapseEvery = $ce)") {
      // what a lost executor does to the blocks a crawl holds between
      // rounds: nothing held may be a block the crawl cannot recompute
      import spark.implicits._
      val sc = spark.sparkContext
      val cfg = config.copy(maxRounds = 3, collapseEvery = ce)
      val seeds3 = Fixtures.seeds(200)
      val dir = tempDir("graft-lost-blocks")
      val before = sc.getPersistentRDDs.keySet
      val crawler = new Crawler(spark, cfg, dir)
      var cands = crawler.seedCandidates(spark.createDataset(seeds3))
      (0 until 3).foreach { round =>
        crawler.runRound(round, cands)
        val held = sc.getPersistentRDDs -- before
        assert(held.nonEmpty, s"test vacuous: the crawl held nothing after round $round")
        held.values.foreach(_.unpersist(blocking = true))
        cands = crawler.candidatesFromStore(round + 1)
      }
      val store = new graft.snapshot.SnapshotStore(dir)
      val got = store.read(spark, "crawl_log").get.orderBy("seq").as[CrawlLogEntry].collect().toVector
      assert(got == SequentialOracle.run(seeds3, cfg).crawlLog.sortBy(_.seq))
      // the state a round reads folds at most collapseEvery tables: a base
      // every collapseEvery rounds, and the fold from the latest base
      // equals the fold of every round
      val bases = (0 until 3).map(r => store.manifestMetric(r, "state_base").get.toInt)
      assert(bases == (0 until 3).map(r => r - r % ce))
      val keys = Seq("host", "lane")
      val all = store.readFoldedLatest(spark, "host_state", keys).get
      val fromBase = store.readFoldedLatest(spark, "host_state", keys, 2, bases(2)).get
      assert(all.exceptAll(fromBase).isEmpty && fromBase.exceptAll(all).isEmpty)
    }

  test("the bloom pre-filtered anti-join keeps parity under sort-merge joins") {
    // broadcasts off: the bloom positives enter each chain part's
    // sort-merge anti-join, and the negatives bypass it
    import spark.implicits._
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val dir = tempDir("graft-parity-smj")
    spark.listenerManager.register(listener)
    spark.conf.set(key, "-1")
    try new Crawler(spark, config, dir).run(spark.createDataset(seeds))
    finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      org.apache.spark.GraftBridge.drainListeners(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    val antiJoins = plans.asScala.flatMap(_.linesIterator).filter(_.contains("LeftAnti")).toSeq
    assert(antiJoins.exists(_.contains("SortMergeJoin")), "test vacuous: no sort-merge anti-join ran")
    assert(!antiJoins.exists(_.contains("BroadcastHashJoin")), "an anti-join still broadcast")
    val store = new graft.snapshot.SnapshotStore(dir)
    val got = store.read(spark, "crawl_log").get.orderBy("seq").as[CrawlLogEntry].collect().toVector
    assert(got == oracle.crawlLog.sortBy(_.seq))
    val seen = store.read(spark, "seen").get.orderBy("seq").select("canonUrl").as[String].collect().toVector
    assert(seen == oracle.seen)
  }

  test("run frees every cache and checkpoint it persisted when it returns") {
    import spark.implicits._
    val sc = spark.sparkContext
    val dir = tempDir("graft-run-frees")
    val seedDs = spark.createDataset(Fixtures.seeds(200))
    val before = sc.getPersistentRDDs.keySet
    def leaked = sc.getPersistentRDDs.keySet -- before
    new Crawler(spark, config, dir).run(seedDs)
    assert(leaked.isEmpty, s"a fresh run left ${leaked.size} persisted RDDs")
    new Crawler(spark, config.copy(maxRounds = 3), dir).run(seedDs) // resumes round 2
    assert(new graft.snapshot.SnapshotStore(dir).latestRound().contains(2))
    assert(leaked.isEmpty, s"a resumed run left ${leaked.size} persisted RDDs")
  }

  test("bloom bank: no false negatives; pre-filter admits all seen urls") {
    import spark.implicits._
    val store = new graft.snapshot.SnapshotStore(storeRoot)
    val bank = graft.frontier.DistBloomBank
      .load(spark, store.bloomPath(1)).get
    assert(bank.width == config.seenPartitions) // saved banks are self-describing
    val missed = graft.frontier.DistBloomBank
      .probe(oracle.seen.toDF("canon"), "canon", bank, "maybe")
      .filter(!$"maybe").select("canon").as[String].collect()
    assert(missed.isEmpty, s"bloom false negatives: ${missed.take(3).mkString(", ")}")
  }

  test("saved bank is self-describing: load keeps BUILT width under a changed config") {
    import spark.implicits._
    val urls = (0 until 500).map(i => s"https://w.example.org/post/$i")
    val df = urls.toDF("canon")
    val built = graft.frontier.DistBloomBank.buildRound(df, "canon", 8, 10000L, 0.01)
    val path = tempDir("graft-bankwidth") + "/bank"
    graft.frontier.DistBloomBank.save(spark, built, path)
    // a resume whose config now says seenPartitions=32 must still probe at 8
    val loaded = graft.frontier.DistBloomBank.load(spark, path).get
    assert(loaded.width == 8)
    val probed = graft.frontier.DistBloomBank.probe(df, "canon", loaded, "maybe")
    assert(probed.filter(!col("maybe")).count() == 0L,
      "bloom false negative after width-preserving load")
  }

  test("bloom bank sizing: measured FPP meets the built geometry's target; bits/key near optimal") {
    import spark.implicits._
    // SURVEY §7.4 sizing evidence (measured, not assumed): build at the
    // 1% target with filters loaded exactly to their expected insertions,
    // then measure the realized false-positive rate on fresh keys and the
    // realized bits/key of the serialized filters. The same construction
    // (Spark's BloomFilter.create) sizes the 10^10-key production bank:
    // -ln(0.01)/ln²2 = 9.585 bits/key → ~11.2 GiB across width=4096
    // (≈2.9 MB / 2.44M-key filter) — see BASELINE.md for the scale table.
    val width = 8; val perFilter = 20000L; val fpp = 0.01
    val nIns = width * perFilter // load factor 1.0 on average
    val ins = (0 until nIns.toInt).map(i => s"https://fpp.example.org/post/$i")
    val bank = graft.frontier.DistBloomBank
      .buildRound(ins.toDF("canon"), "canon", width, perFilter, fpp)
    bank.persist()
    val blobBits = bank.rdd.map(_._2.length.toLong * 8.0).sum()
    val bitsPerKey = blobBits / nIns
    assert(bitsPerKey > 9.0 && bitsPerKey < 11.0,
      f"realized $bitsPerKey%.2f bits/key vs optimal 9.59 at 1%% FPP")
    // no false negatives on the inserted set (exactness contract)
    assert(graft.frontier.DistBloomBank
      .probe(ins.toDF("canon"), "canon", bank, "maybe")
      .filter(!col("maybe")).count() == 0L)
    // measured FPP on 80k fresh keys: within sampling noise of the target
    // (upper bound proves the sizing holds; lower bound proves the filter
    // is genuinely loaded, not accidentally empty)
    val nFresh = 80000
    val fresh = (0 until nFresh).map(i => s"https://fpp.example.org/NEW/$i")
    val fp = graft.frontier.DistBloomBank
      .probe(fresh.toDF("canon"), "canon", bank, "maybe")
      .filter(col("maybe")).count()
    val measured = fp.toDouble / nFresh
    assert(measured <= 1.5 * fpp, f"measured FPP $measured%.4f blows the $fpp%.2f target")
    assert(measured >= fpp / 3, f"measured FPP $measured%.4f implausibly low — empty filters?")
    bank.unpersist()
  }

  test("bulk load tags rows with their source file (S6, app.py:32-55)") {
    import spark.implicits._
    val store = new graft.snapshot.SnapshotStore(storeRoot)
    val tagged = store.readTagged(spark, "docs").get
    val files = tagged.select("_source_file").as[String].collect()
    assert(files.nonEmpty && files.forall(f => f.nonEmpty && f.endsWith(".parquet")))
    assert(tagged.count() == store.read(spark, "docs").get.count())
  }

  test("metrics committed per partition per round") {
    val m = spark.read.parquet(s"$storeRoot/data/metrics/round=0", s"$storeRoot/data/metrics/round=1")
    assert(m.count() > 0)
    val fetched = m.agg(sum("fetched")).head().getLong(0)
    assert(fetched == oracle.crawlLog.count(_.status == "fetched"))
    // one row per fetch partition: Spark's partition id of the fetch outcome
    val width = math.max(config.seenPartitions, spark.sparkContext.defaultParallelism)
    for (round <- 0 to 1) {
      val rm = spark.read.parquet(s"$storeRoot/data/metrics/round=$round")
      val ids = rm.select("partitionId").collect().map(_.getInt(0)).toSeq
      assert(ids.nonEmpty && ids.distinct.size == ids.size, s"round $round: $ids")
      assert(ids.forall(i => i >= 0 && i < width), s"round $round: $ids vs width $width")
      val roundFetched = rm.agg(sum("fetched")).head().getLong(0)
      assert(roundFetched == spark.read.parquet(s"$storeRoot/data/docs/round=$round").count(),
        s"round $round")
    }
  }
}
