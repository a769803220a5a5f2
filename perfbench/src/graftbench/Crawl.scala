package graftbench

import graft.core.{CrawlConfig, SeedRecord}
import graft.fetch.{FetchResponse, Fetcher, SyntheticFetcher}
import graft.fixtures.Fixtures
import graft.frontier.DistBloomBank
import graft.oracle.SequentialOracle
import graft.pipeline.Crawler
import graft.snapshot.SnapshotStore
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Shape of a crawl workload. The crawl runs `rounds` rounds as
  * consecutive legs of `legRounds` rounds each; every leg is a new Crawler
  * resuming from the same store.
  */
final case class CrawlShape(seeds: Long, postRange: Int, hosts: Int, rounds: Int,
    legRounds: Int, collapseEvery: Int)

/** Fetcher wrapper counting attempts, non-200 responses and busy time. */
final class CountingFetcher(inner: Fetcher, attempts: LongAccumulator,
    fails: LongAccumulator, busyNs: LongAccumulator) extends Fetcher {
  override def fetch(canonUrl: String, attempt: Int): FetchResponse = {
    val t0 = System.nanoTime()
    val r = inner.fetch(canonUrl, attempt)
    busyNs.add(System.nanoTime() - t0)
    attempts.add(1L)
    if (r.status != 200) fails.add(1L)
    r
  }
}

/** One timed crawl: wall from the first Crawler.run call to the last
  * committed manifest, and the gaps between successive commits.
  */
final case class CrawlRep(wallS: Double, urls: Long, gapsS: Seq[Double], storeBytes: Long,
    store: SnapshotStore, startMs: Double, commitMs: Seq[Double])

final class CrawlWorkload(val name: String, val shape: CrawlShape, val seed: Long,
    sizeName: String, cpus: Int, workDir: Path) {

  private var seeds: Dataset[SeedRecord] = _
  private var reps = 0

  def config(maxRounds: Int): CrawlConfig = CrawlConfig(maxRounds = maxRounds,
    seenPartitions = cpus, saltFactor = 32, bloomExpectedPerPartition = 2000000L,
    collapseEvery = shape.collapseEvery, eagerCheckpointFree = true)

  private def seedAt(i: Long): SeedRecord =
    Fixtures.benchSeed(i, postRange = shape.postRange, nHosts = shape.hosts, seed = seed)

  /** Generates and caches the seed list (the engine sees only this). */
  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    val s = seed; val sh = shape
    seeds = spark.range(shape.seeds)
      .map(i => Fixtures.benchSeed(i, postRange = sh.postRange, nHosts = sh.hosts, seed = s))
      .persist()
    seeds.count()
  }

  private def newStore(): SnapshotStore = {
    reps += 1
    new SnapshotStore(workDir.resolve(s"store-$sizeName-$reps").toString)
  }

  private def manifestTimes(store: SnapshotStore): Seq[(Int, Double)] =
    store.committedRounds().map { r =>
      val p = Paths.get(store.root, "_manifests", f"manifest-$r%06d.json")
      r -> Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
    }

  private def dirBytes(root: String): Long = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Round count each leg runs up to: every `legRounds`, then the last. */
  val legEnds: Seq[Int] = ((shape.legRounds until shape.rounds by shape.legRounds) :+ shape.rounds).distinct

  /** Runs the whole crawl as legs, each a new Crawler.run on the same store;
    * per-round times come from the manifests afterwards.
    */
  def crawl(spark: SparkSession, trace: Trace, fetcher: Fetcher): CrawlRep = {
    val store = newStore()
    val startMs = System.currentTimeMillis().toDouble
    trace.span("crawl") {
      legEnds.foreach { upTo =>
        trace.span("crawler.leg")(new Crawler(spark, config(upTo), store.root, fetcher).run(seeds))
      }
    }
    val commits = manifestTimes(store).map(_._2)
    val points = startMs +: commits
    val urls = store.committedRounds().flatMap(r => store.manifestMetric(r, "frontier")).sum
    CrawlRep((commits.last - startMs) / 1e3, urls,
      points.zip(points.tail).map { case (a, b) => (b - a) / 1e3 }, dirBytes(store.root),
      store, startMs, commits)
  }

  /** Digest of the sequential reference crawl of this seed's inputs. */
  def oracleDigest(spark: SparkSession): String = Check.oracleDigest(spark,
    SequentialOracle.run((0L until shape.seeds).map(seedAt), config(shape.rounds)))

  /** Expected digest: pinned for this seed, else the sequential oracle's. */
  def expectedDigest(spark: SparkSession, pins: Check.Pins): (String, String) =
    pins.crawl(name, sizeName, seed) match {
      case Some(d) => (d, "pinned")
      case None    => (oracleDigest(spark), "oracle")
    }

  /** Digest of an uninterrupted crawl (one Crawler, all rounds). */
  def uninterruptedDigest(spark: SparkSession): String = {
    val store = newStore()
    new Crawler(spark, config(shape.rounds), store.root).run(seeds)
    Check.storeDigest(spark, store)
  }

  /** Per-layer numbers of a traced crawl, measured from outside the engine
    * after the crawl: counters from the wrapping fetcher, the committed
    * tables, timed public read calls and bloom-bank probes. Also returns
    * detail fields (JSON-encoded): per-round candidates, scheduled URLs and
    * their ratio.
    */
  def layerMetrics(spark: SparkSession, trace: Trace, rep: CrawlRep, fetchAttempts: Long,
      fetchFails: Long, fetchBusyS: Double): (Map[String, Double], Map[String, String]) = {
    import spark.implicits._
    val store = rep.store
    val rounds = store.committedRounds()
    val log = store.read(spark, "crawl_log").get
    val statusCounts = log.groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = store.read(spark, "docs").get
    val spanAgg = docs.select(explode($"spans").as("s"))
      .agg(count(lit(1)), sum(when($"s.kind" === "media", 1L).otherwise(0L))).head()
    val nDocs = statusCounts.getOrElse("fetched", 0L)
    val nSpans = spanAgg.getLong(0)

    // candidates entering each round: round 0 = relevance-passing seeds,
    // round r = outlinks of round r-1 docs (what Crawler.runRound receives)
    val seedCands = new Crawler(spark, config(shape.rounds), workDir.resolve("probe").toString)
      .seedCandidates(seeds).toDF()
    def candsOf(r: Int) =
      if (r == 0) seedCands.select($"url")
      else docs.filter($"round" === r - 1).select(explode($"outlinks").as("url"))
    val canonOf = udf((u: String) => graft.core.UrlCanon.canonicalize(u))
    val candCounts = rounds.map(r => trace.span("probe.candidates")(candsOf(r).count()))

    // bloom tier: per-round negative fraction against the previous round's
    // bank, load time of each saved bank, and the final bank's size and FPP
    var negatives = 0L; var probed = 0L
    val loadS = rounds.map { r =>
      val t0 = System.nanoTime()
      val bank = trace.span("frontier.load")(DistBloomBank.load(spark, store.bloomPath(r)).map(_.persist()))
      bank.foreach(_.count())
      val dt = (System.nanoTime() - t0) / 1e9
      if (r + 1 <= rounds.last) bank.foreach { b =>
        val c = candsOf(r + 1).select(canonOf($"url").as("canon")).distinct()
        val flags = trace.span("frontier.probe")(DistBloomBank.probe(c, "canon", b, "maybe"))
          .agg(count(lit(1)), sum(when($"maybe", 0L).otherwise(1L))).head()
        probed += flags.getLong(0); negatives += Option(flags.get(1)).map(_.toString.toLong).getOrElse(0L)
      }
      bank.foreach(_.unpersist())
      dt
    }
    val lastBank = DistBloomBank.load(spark, store.bloomPath(rounds.last)).get.persist()
    val bankBytes = lastBank.rdd.map(_._2.length.toLong).sum()
    val keys = rep.urls
    val neverSeen = spark.range(20000).select(
      concat(lit(s"https://never-seen.example.invalid/p/$seed/"), $"id".cast("string")).as("canon"))
    val fp = trace.span("frontier.probe")(DistBloomBank.probe(neverSeen, "canon", lastBank, "maybe"))
      .filter($"maybe").count()
    lastBank.unpersist()

    // snapshot read path, as a resuming crawl pays it
    val readS = timeS(trace.span("snapshot.read")(store.read(spark, "seen").get.count()))
    val foldS = timeS(trace.span("snapshot.fold")(
      store.readFoldedLatest(spark, "host_state", Seq("host", "lane")).get.count()))

    val stages = trace.stages
    def layerStages(l: String) = stages.filter(_.layer == l)
    def taskS(l: String) = layerStages(l).map(_.runMs).sum / 1e3
    val fp2 = layerStages("fetchparse")
    val files = {
      val s = Files.walk(Paths.get(store.root))
      try s.iterator().asScala.count(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      finally s.close()
    }
    val commitS = commitSeconds(trace, rep)
    val cands = candCounts.sum.toDouble
    val scheduled = rounds.map(r => store.manifestMetric(r, "frontier").getOrElse(0L))
    def list(xs: Seq[Any]) = xs.mkString("[", ",", "]")
    val detail = Map("candidates_by_round" -> list(candCounts), "scheduled_by_round" -> list(scheduled),
      "keep_frac_by_round" -> list(candCounts.zip(scheduled).map { case (c, n) =>
        Main.num(if (c > 0) n.toDouble / c else 0.0) }))
    (Map(
      "pipeline.round_s_p50" -> Stats.median(rep.gapsS),
      "pipeline.round0_s" -> rep.gapsS.head,
      "pipeline.candidates" -> cands,
      "pipeline.scheduled" -> rep.urls.toDouble,
      "pipeline.dedup_keep_frac" -> (if (cands > 0) rep.urls / cands else 0.0),
      "frontier.task_s" -> taskS("frontier"),
      "frontier.bank_bytes" -> bankBytes.toDouble,
      "frontier.bank_bits_per_key" -> (if (keys > 0) bankBytes * 8.0 / keys else 0.0),
      "frontier.realized_fpp" -> fp / 20000.0,
      "frontier.bloom_negative_frac" -> (if (probed > 0) negatives.toDouble / probed else 0.0),
      "frontier.load_s" -> Stats.median(loadS),
      "sequencer.task_s" -> taskS("sequencer"),
      "fetch.attempts" -> fetchAttempts.toDouble,
      "fetch.attempts_per_url" -> (if (rep.urls > 0) fetchAttempts.toDouble / rep.urls else 0.0),
      "fetch.busy_s" -> fetchBusyS,
      "fetch.fail_frac" -> (if (fetchAttempts > 0) fetchFails.toDouble / fetchAttempts else 0.0),
      "fetch.suspended_urls" -> statusCounts.getOrElse("suspended", 0L).toDouble,
      "parse.failed" -> statusCounts.getOrElse("parse_failed", 0L).toDouble,
      "parse.spans_per_doc" -> (if (nDocs > 0) nSpans.toDouble / nDocs else 0.0),
      "parse.media_span_frac" -> (if (nSpans > 0) spanAgg.getLong(1).toDouble / nSpans else 0.0),
      "fetchparse.task_s" -> taskS("fetchparse"),
      "fetchparse.task_skew" -> (if (fp2.isEmpty) 0.0 else fp2.map(_.skew).max),
      "snapshot.commit_s" -> Stats.median(commitS),
      "snapshot.files_per_round" -> files.toDouble / rounds.size,
      "snapshot.bytes_written" -> rep.storeBytes.toDouble,
      "snapshot.bytes_per_url" -> (if (rep.urls > 0) rep.storeBytes.toDouble / rep.urls else 0.0),
      "snapshot.read_s" -> readS,
      "snapshot.fold_s" -> foldS), detail)
  }

  /** Per round: from the first commit job (table or bank write) to the
    * round's manifest.
    */
  private def commitSeconds(trace: Trace, rep: CrawlRep): Seq[Double] = {
    val bounds = rep.startMs +: rep.commitMs
    val commitJobs = trace.jobs.filter { case (_, f) =>
      f.startsWith("graft.snapshot.SnapshotStore.commit") || f.startsWith("graft.frontier.DistBloomBank.save") }
    bounds.zip(bounds.tail).flatMap { case (a, b) =>
      commitJobs.map(_._1.toDouble).filter(t => t > a && t <= b).minOption.map(t => (b - t) / 1e3)
    }
  }

  private def timeS(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

object CrawlWorkload {
  /** Counting fetcher plus its accumulators (attempts, fails, busy ns). */
  def countingFetcher(spark: SparkSession): (Fetcher, LongAccumulator, LongAccumulator, LongAccumulator) = {
    val sc = spark.sparkContext
    val a = sc.longAccumulator("bench.fetch.attempts")
    val f = sc.longAccumulator("bench.fetch.fails")
    val b = sc.longAccumulator("bench.fetch.busyNs")
    (new CountingFetcher(SyntheticFetcher, a, f, b), a, f, b)
  }
}
