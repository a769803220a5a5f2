package graft.pipeline

import graft.core._
import graft.fetch.{Fetcher, HostClock, SyntheticFetcher}
import graft.fixtures.Fixtures
import graft.frontier.DistBloomBank
import graft.parse.PageParser
import graft.analysis.Relevance
import graft.snapshot.SnapshotStore

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** A frontier candidate before dedup/scheduling. (ord0, ord1) is the
  * canonical discovery order: (seed seq, 0) in round 0, then
  * (parent seq, link index) for discovered outlinks.
  */
final case class Candidate(url: String, keyword: String, ord0: Long, ord1: Int)

/** Frontier entry enriched with its salt lane and its (host, lane)'s
  * committed scheduler state (None before the (host, lane) was first
  * fetched). The politeness clock is keyed by
  * (host, lane) — NOT host alone — so outcomes are independent of how
  * lanes co-locate into partitions (determinism across parallelism
  * levels); each lane paces at delay×saltFactor to preserve the per-host
  * budget (SURVEY §7.4.4).
  */
final case class FrontierWithState(
    round: Int, seq: Long, url: String, canonUrl: String, host: String, keyword: String,
    lane: Int, state: Option[HostState])

/** Output of the fused fetch+parse stage for one frontier entry. */
final case class FetchParseRow(
    round: Int,
    seq: Long,
    url: String,
    canonUrl: String,
    host: String,
    keyword: String,
    status: String, // fetched | fetch_failed | parse_failed | suspended
    attempts: Int,
    title: String,
    author: String,
    created_at: java.sql.Timestamp,
    view_count: Int,
    like_count: Int,
    spans: Seq[Span],
    outlinks: Seq[String],
    comments: Seq[ParsedComment])

/** The Spark-native crawl engine (BASELINE.json north rule): URL frontier +
  * fetch scheduler over snapshot-versioned span-document tables.
  *
  * Per round (the reference's search→dedup→fetch spine,
  * /root/reference/crawler/orchestrator.py:205-257, re-expressed as one
  * declarative plan per stage):
  *
  *   candidates (seeds ∪ discovered outlinks, canonical (ord0, ord1) order)
  *     → canonicalize (url_deduplicator.py:14-37 semantics)
  *     → relevance filter, round 0 only (manager.py:176-203, θ=0.5)
  *     → robots disallow filter (north-rule budget)
  *     → within-round first-wins dedup (window by canon, order by discovery)
  *     → cross-round dedup: bloom PRE-filter (partitioned bank; candidates
  *       shuffle to the filters, which never move) + exact left-anti join vs
  *       the seen table (false positives re-checked, never dropped — SURVEY
  *       §7.4.3)
  *     → global sequence assignment (scalable two-pass: range partition +
  *       per-partition row_number + offset cumsum — no single-partition window)
  *     → politeness schedule: repartition by (host, salt lane) hash,
  *       sortWithinPartitions(seq), paced per-host virtual clocks inside one
  *       mapPartitions running the RateLimiter state machine
  *       (rate_limiter.py: 3 s default / robots crawl-delay, 2^n backoff,
  *       suspension after max_retries, reset on success)
  *     → fused fetch+parse (parser registry w/ generic fallback,
  *       content_crawler.py:180-238) emitting interleaved span docs
  *     → snapshot commit: docs ∪ crawl_log ∪ seen ∪ metrics ∪ host_state
  *       (a delta, or every collapseEvery rounds a full base), atomic
  *       manifest (resumable; partial rounds invisible)
  *     → the seen chain brought to the one its manifests name (the same
  *       path a resume takes), its bloom bank saved.
  *
  * Scale design notes (100 TB / 10^10-URL frontier):
  *   - the only global ordering is the seq assignment, done without a
  *     global sort collapse (range shuffle + tiny offset map);
  *   - dedup joins shuffle on canon-url hash; only bloom positives (every
  *     already-seen candidate plus the false positives) go through the
  *     exact anti-join, and definitely-new candidates (bloom negatives)
  *     skip it;
  *   - fetch partitions are keyed by host (optionally salted for hot hosts,
  *     each lane pacing at delay×saltFactor to preserve the per-host
  *     budget), so per-host politeness state never crosses executors;
  *   - AQE stays on for skew-join splitting; crawl-order parity is a sort
  *     key, not a scheduling constraint (SURVEY §7.4.1).
  */
final class Crawler(
    spark: SparkSession,
    config: CrawlConfig,
    storeRoot: String,
    fetcher: Fetcher = SyntheticFetcher) extends Serializable {

  import spark.implicits._

  val store = new SnapshotStore(storeRoot)

  private val robotsB = spark.sparkContext.broadcast(Fixtures.robotsMap)
  private val cfgB = spark.sparkContext.broadcast(config)

  // ---- pure column helpers, all UDF-free (codegen stays unbroken):
  //      canonicalization is a native Catalyst expression
  //      (graft.functions.CanonicalizeUrl); host/path are regexp_extract
  //      over the (already lowercase, fragment-free) canonical form with
  //      semantics identical to UrlCanon.host/path; the robots check is a
  //      broadcast join against the (tiny) rules table + a native exists()
  //      over the disallow-prefix array.
  private def canonU(c: org.apache.spark.sql.Column) = graft.functions.functions.canon_url(c)
  private def hostCol(canon: Column): Column =
    regexp_extract(canon, "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)
  private def pathCol(canon: Column): Column =
    regexp_extract(canon, "^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)

  /** (host, disallow prefixes) rules table — broadcast side of the robots
    * filter (rule sets are KB-sized even for huge crawls).
    */
  private val robotsDF = {
    val rules = Fixtures.robotsMap.values.toSeq.map(r => (r.host, r.disallow))
    spark.createDataFrame(rules).toDF("host", "__disallow")
  }

  /** Robots disallow filter: left-join the rules, drop candidates whose
    * path starts with any disallowed prefix (no rules → allowed).
    */
  private def filterAllowed(cands: DataFrame): DataFrame =
    cands
      .join(broadcast(robotsDF), Seq("host"), "left")
      .withColumn("__path", pathCol($"canon"))
      .filter(!coalesce(expr("exists(__disallow, d -> startswith(__path, d))"), lit(false)))
      .drop("__disallow", "__path")

  // Cross-round state. A round reads its inputs back from what the
  // previous rounds committed, the same way a resume does: its candidates
  // are the outlinks of the last committed round's docs
  // (candidatesFromStore), its host scheduler state is the committed
  // host_state fold (committedState), its first sequence id is the
  // previous manifest's `next_seq`, and its seen chain is the one the
  // manifests name (syncSeen). Only the seen chain's caches, which
  // recompute from the store, are held between rounds.
  //
  // The seen set is a CHAIN of parts, each persisted pre-partitioned on
  // `canon`, so the per-round exact anti-join re-uses the cached
  // partitioning instead of re-shuffling the whole accumulated history
  // every round. The chain follows host_state's base: one base part for
  // the rounds up to the latest state base plus one round part per later
  // round, so it collapses into a new base part every collapseEvery rounds
  // (plan depth and the per-round join fan-in stay O(1)). Each part
  // carries one bloom filter set built from it; the bloom bank is the
  // union of the parts' sets (see DistBloomBank — nothing bank-sized ever
  // lands on the driver or gets broadcast).
  private case class SeenPart(rounds: (Int, Int), canon: DataFrame, bloom: DistBloomBank.Bank) {
    def free(): Unit = { canon.unpersist(); bloom.unpersist() }
  }
  private var seenParts: Vector[SeenPart] = Vector.empty
  private val collapseEvery = config.collapseEvery

  // The bank's FPP budget, split by load: a bank holds one base part (the
  // part that starts at round 0, which holds most keys) plus at most
  // collapseEvery − 1 round parts. Half the budget to the base and the
  // other half shared by the round parts keeps the union at or below
  // bloomFpp.
  private val baseFpp = config.bloomFpp / 2
  private val roundFpp = config.bloomFpp / (2 * math.max(1, collapseEvery))

  /** The chain part of the committed `seen` rows of rounds [from, to] and
    * its filter set, built at the base's FPP if it starts at round 0, else
    * at a round part's. The set's count is the part's first scan: it
    * materializes the part's cache too.
    */
  private def seenPart(from: Int, to: Int): Option[SeenPart] =
    store.read(spark, "seen", minRound = from, maxRound = to).map { seen =>
      val canon = seen.select($"canonUrl".as("canon"))
        .repartition(config.seenPartitions, $"canon").persist()
      val bloom = DistBloomBank.buildRound(canon, "canon", config.seenPartitions,
        config.bloomExpectedPerPartition, if (from == 0) baseFpp else roundFpp).persist()
      bloom.count()
      SeenPart((from, to), canon, bloom)
    }

  /** Brings the cached seen chain to the one the manifests name for the
    * rounds committed through `last`: one base part for rounds
    * [0, stateBase(last)] plus one round part per later round. Frees the
    * parts it no longer names and builds the missing ones, so a fresh, a
    * running and a resumed crawl hold the same chain, and save the same
    * bank, after the same round. Before round 0 the base's read finds no
    * committed round: the chain is empty. A store whose manifests record
    * no `state_base` folds from round 0 and so gets one part per round:
    * correct, but its chain is not bounded.
    */
  private def syncSeen(last: Int): Unit = {
    val base = stateBase(last)
    val named = (0, base) +: (base + 1 to last).map(r => (r, r))
    val (kept, stale) = seenParts.partition(p => named.contains(p.rounds))
    stale.foreach(_.free())
    seenParts = named.toVector.flatMap { case (from, to) =>
      kept.find(_.rounds == (from, to)).orElse(seenPart(from, to))
    }
  }

  private def bank: DistBloomBank.Bank = DistBloomBank.union(seenParts.map(_.bloom))

  /** The latest round ≤ `round` whose host_state is a base, as its
    * manifest records it; 0 for a store that records none (its round 0 is
    * a base: it folds from there).
    */
  private def stateBase(round: Int): Int =
    store.manifestMetric(round, "state_base").getOrElse(0L).toInt

  /** The host scheduler state committed through round `last`: the latest
    * base host_state table plus the deltas committed after it, folded
    * latest-round-wins (empty before round 0). Every round's fetch reads
    * it, resumed or not.
    */
  private def committedState(last: Int): DataFrame =
    store.readFoldedLatest(spark, "host_state", Seq("host", "lane"), last, stateBase(last))
      .getOrElse(spark.emptyDataset[HostState].toDF())

  /** Total URLs scheduled (= fetched+deduped) into the store so far. */
  def totalScheduled: Long = store.latestRound().flatMap(store.manifestMetric(_, "next_seq")).getOrElse(0L)

  /** Entry: run all rounds (resuming from the last committed round). Frees
    * every cache it holds when it returns.
    */
  def run(seeds: Dataset[SeedRecord]): Unit = try {
    var round = store.latestRound().map(_ + 1).getOrElse(0)
    var candidates = if (round == 0) seedCandidates(seeds) else candidatesFromStore(round)
    while (round < config.maxRounds && (round == 0 || !candidates.isEmpty)) {
      runRound(round, candidates)
      round += 1
      candidates = candidatesFromStore(round)
    }
  } finally {
    seenParts.foreach(_.free())
    seenParts = Vector.empty
  }

  /** Round-0 candidates: relevance-scored seeds (threshold filter before
    * dedup, as the reference does inside search — manager.py:176-203).
    */
  def seedCandidates(seeds: Dataset[SeedRecord]): Dataset[Candidate] = {
    val thr = config.relevanceThreshold
    val scoreU = udf((snippet: String, kw: String, title: String) =>
      Relevance.score(snippet, Seq(kw), title))
    seeds
      .withColumn("relevance_score", scoreU($"snippet", $"keyword", $"title"))
      .filter($"relevance_score" >= lit(thr))
      .select($"url", $"keyword", $"seq".as("ord0"), lit(0).as("ord1"))
      .as[Candidate]
  }

  /** Round `round`'s candidates (every round after round 0, resumed or
    * not): the outlinks of round `round − 1`'s committed docs, read from
    * that round's table alone, in (parent seq, link idx) order, inheriting
    * the parent's keyword (orchestrator.py:222-223 analogue).
    */
  private[graft] def candidatesFromStore(round: Int): Dataset[Candidate] =
    store.read(spark, "docs", minRound = round - 1, maxRound = round - 1)
      .map(_.select($"seq".as("ord0"), $"keyword", posexplode($"outlinks").as(Seq("ord1", "url")))
        .select($"url", $"keyword", $"ord0", $"ord1".cast("int"))
        .as[Candidate])
      .getOrElse(spark.emptyDataset[Candidate])

  /** One crawl round: bring the seen chain to the committed rounds',
    * schedule, fetch and commit `candidates`, then bring the chain to the
    * round's commit and save its bank. The next round's candidates are
    * `candidatesFromStore(round + 1)`.
    */
  def runRound(round: Int, candidates: Dataset[Candidate]): Unit = {
    syncSeen(round - 1)
    val cands = filterAllowed(candidates.toDF()
      .withColumn("canon", canonU($"url"))
      .withColumn("host", hostCol($"canon")))

    // within-round first-wins dedup on canonical URL (W4): keep the
    // earliest discovery (url_deduplicator.py:40-62 keeps the original URL).
    // Routed at the round's width, so the window, the bloom probe and the
    // exact anti-join against the seen chain share one canon partitioning.
    val wDedup = Window.partitionBy($"canon").orderBy($"ord0", $"ord1")
    val roundUnique = cands.repartition(config.seenPartitions, $"canon")
      .withColumn("rn", row_number().over(wDedup))
      .filter($"rn" === 1).drop("rn")

    // cross-round dedup: bloom pre-filter + exact anti-join (U5).
    // Persisted: the sequencer's range partitioner SAMPLES its input, so an
    // unpersisted plan would re-run the dedup window + anti-join three
    // times (sample, shuffle, count). Candidate rows are narrow.
    val (deduped, probed) = antiJoinSeen(roundUnique)
    val fresh = deduped.persist()

    // global sequence assignment, continuing from the previous round's commit
    val seqStart = if (round == 0) 0L else store.manifestMetric(round - 1, "next_seq").getOrElse(0L)
    val (sequencedRaw, frontierCount, seqCache) =
      Sequencer.addSeq(fresh, Seq(col("ord0"), col("ord1")), "seq", seqStart)
    fresh.unpersist() // seqCache is materialized by addSeq's count pass
    probed.foreach(_.unpersist())

    // the host column flows from the candidate stage
    val frontier = sequencedRaw.select(
      lit(round).as("round"), $"seq", $"url", $"canon".as("canonUrl"), $"host", $"keyword")
      .as[FrontierEntry]

    // politeness-scheduled fused fetch+parse (host scheduler state read
    // from what the previous rounds committed). The fetch output (spans +
    // outlinks) is the round's heavyweight intermediate: it is spilled
    // columnar to disk (the snapshot write follows anyway and heap
    // eviction would trigger a full re-fetch).
    val outcome = fetchParse(round, frontier)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // Column-level split of the (row, state) tuple stream, NOT a typed
    // flatMap: a flatMap re-decodes every cached fat row (spans/comments
    // Vectors) into JVM objects and re-encodes it — and every consumer
    // (docs write, crawl_log, metrics, next-candidates) pays that per
    // action. The null-filter + struct projection below stays inside
    // whole-stage codegen over the columnar cache (measured: the round
    // commit dropped from ~16-39 s to single digits at bench scale).
    // Tuple encoding preserves element nullness, so `_1 IS NOT NULL`
    // selects exactly the rows Option(o._1) kept.
    val results = outcome.where($"_1".isNotNull).select($"_1.*")
    val delta = outcome.where($"_2".isNotNull).select($"_2.*")

    // host_state commits the round's delta (the (host, lane) rows it
    // touched) or, once collapseEvery rounds have passed since the last
    // base, a new base: the full folded state. So committedState folds at
    // most collapseEvery tables. Counting the table the round commits is
    // the one pass that materializes the fetch outcome.
    val lastBase = stateBase(round - 1)
    val rebase = round - lastBase >= collapseEvery
    val hostState = (if (!rebase) delta
      else committedState(round - 1).join(delta.select("host", "lane"), Seq("host", "lane"), "left_anti")
        .unionByName(delta)).persist() // counted, then written
    val hostStateRows = hostState.count()

    commitRound(round, frontier, results, hostState, hostStateRows, if (rebase) round else lastBase,
      seqStart + frontierCount, frontierCount)
    outcome.unpersist()
    hostState.unpersist()
    seqCache.unpersist()

    // the round's seen rows get exactly one filter set: a new round part's,
    // or, on a rebase, the new base part's
    syncSeen(round)
    // saved after the commit, for diagnostics: no crawl reads a saved bank
    // back, so a round whose bank write never ran resumes the same.
    // Distributed parquet write of (pid, filter) rows — nothing collected.
    DistBloomBank.save(spark, bank, store.bloomPath(round))
  }

  /** Bloom pre-filter (distributed partition-aligned probe — only the
    * candidates shuffle, the bank never moves) + exact left-anti joins
    * against the cached seen chain. mightContain=false short-circuits the
    * exact tier entirely: only the bloom positives enter the joins, and a
    * false positive is re-checked exactly, never dropped. Each chain part
    * is persisted already hash-partitioned on `canon`, so the per-round
    * anti-joins never re-shuffle history — only the (bloom-surviving,
    * small) candidate side moves. On a real cluster the exact tier would
    * be an Iceberg table bucketed by canon-hash with storage-partitioned
    * joins; the cached-partitioned chain is the in-memory equivalent.
    *
    * Returns the fresh candidates and the probed frame, a cache the caller
    * frees once the fresh candidates are materialized.
    */
  private def antiJoinSeen(cands: DataFrame): (DataFrame, Option[DataFrame]) =
    if (seenParts.isEmpty) (cands, None) // first round of a fresh run
    else {
      // cached (its rows are narrow) so the probe pass runs once, though
      // both union branches below read it; a lost block recomputes
      val flagged = DistBloomBank.probe(cands, "canon", bank, "maybe_seen").persist()
      val definitelyNew = flagged.filter(!$"maybe_seen")
      val confirmed = seenParts.foldLeft(flagged.filter($"maybe_seen")) {
        (df, part) => df.join(part.canon, Seq("canon"), "left_anti")
      }
      (definitelyNew.unionByName(confirmed).drop("maybe_seen"), Some(flagged))
    }

  /** Host-partitioned, virtually-paced fetch + parse (T1/T2 semantics).
    * Emits the fetch results AND, after each partition drains, the final
    * per-host scheduler states (retry count / suspension / virtual clock)
    * for the round's checkpoint — exactly-once state via the atomic
    * manifest commit.
    */
  def fetchParse(round: Int, frontier: Dataset[FrontierEntry]): Dataset[(FetchParseRow, HostState)] = {
    // the round's width, floored at the cluster's parallelism so the fetch
    // keeps every core busy; every frame built from the fetch output
    // inherits it. The per-host tail is bounded by saltFactor (a hot
    // host's biggest lane is 1/salt of it).
    val p = math.max(config.seenPartitions, spark.sparkContext.defaultParallelism)

    // the per-(host, lane) scheduler state committed through the previous
    // round (a join, not a broadcast global map: the state table scales
    // with #hosts; the planner broadcasts its parquet read while it is
    // small), rebuilt into the row it is stored as after the exchange, so
    // the exchange does not carry host and lane twice
    val priorState = committedState(round - 1)

    val parted = frontier.toDF()
      .withColumn("lane", Crawler.laneCol($"canonUrl", config.saltFactor))
      .join(priorState, Seq("host", "lane"), "left")
      .repartition(p, $"host", $"lane")
      .sortWithinPartitions($"seq")
      .withColumn("state", when($"retryCount".isNotNull, struct(priorState.columns.map(col): _*)))
      .as[FrontierWithState]

    val rb = robotsB; val cb = cfgB; val f = fetcher; val r = round
    parted.mapPartitions { it =>
      val cfg = cb.value
      val robots = rb.value
      val clocks = scala.collection.mutable.LinkedHashMap.empty[(String, Int), HostClock]
      val mapped = it.map { e =>
        val clock = clocks.getOrElseUpdate((e.host, e.lane), HostClock.restore(cfg, robots,
          e.state.getOrElse(HostState.initial(e.host, e.lane))))
        val (status, attempts, html) = clock.fetchOne(f, e.canonUrl)
        val row = if (status == "fetched") {
          PageParser.parse(html, e.canonUrl, cfg.maxCommentPages) match {
            case Some(parsed) =>
              FetchParseRow(r, e.seq, e.url, e.canonUrl, e.host, e.keyword, "fetched",
                attempts, parsed.title, parsed.author,
                parsed.createdAt.map(java.sql.Timestamp.valueOf).orNull,
                parsed.viewCount, parsed.likeCount, parsed.spans, parsed.outlinks,
                parsed.comments)
            case None =>
              FetchParseRow(r, e.seq, e.url, e.canonUrl, e.host, e.keyword, "parse_failed",
                attempts, "", "", null, 0, 0, Seq.empty, Seq.empty, Seq.empty)
          }
        } else {
          FetchParseRow(r, e.seq, e.url, e.canonUrl, e.host, e.keyword, status, attempts,
            "", "", null, 0, 0, Seq.empty, Seq.empty, Seq.empty)
        }
        (row, null.asInstanceOf[HostState])
      }
      // trailing state rows, materialized lazily after the partition drains
      mapped ++ clocks.iterator.map { case ((host, lane), c) =>
        (null.asInstanceOf[FetchParseRow], c.state(host, lane))
      }
    }
  }

  /** Cap a table's write fan-out by its (estimated) row count: a round's
    * tables otherwise inherit the fetch stage's partitioning, one file per
    * partition per table however small the round — the classic lake
    * small-file problem. coalesce (no shuffle) — the commit is
    * write-bound, not compute-bound, and the cap scales back up with
    * round size.
    */
  private def sizedForWrite(df: DataFrame, estRows: Long, rowsPerFile: Long): DataFrame =
    df.coalesce(math.max(1, math.min(spark.sparkContext.defaultParallelism * 4L,
      math.ceil(estRows.toDouble / rowsPerFile).toLong).toInt))

  /** Atomic snapshot commit of the round's five tables (all inputs
    * already computed/cached by runRound — this is write-only).
    * host_state is a DELTA, only the (host, lane) rows the round touched
    * (at 10^8 hosts a full-state rewrite per round would be
    * O(total-hosts) I/O for a fractional change), except when `baseRound`
    * is `round`: then it is a BASE, the full folded state. The manifest
    * records `baseRound` as `state_base`, so a reader folds that base and
    * the deltas after it (committedState).
    */
  private def commitRound(round: Int, frontier: Dataset[FrontierEntry],
      results: DataFrame, hostState: DataFrame, hostStateRows: Long, baseRound: Int,
      nextSeq: Long, frontierCount: Long): Unit = {
    // docs holds only status='fetched' rows, so sizing it by the frontier
    // count can only overshoot its file fan-out (under high failure rates)
    val docs = sizedForWrite(results.filter($"status" === "fetched")
      .select($"round", $"seq", $"canonUrl".as("doc_id"), $"url", $"host".as("site"),
        $"keyword", $"title", $"author", $"created_at", $"view_count", $"like_count",
        $"spans", $"outlinks", $"comments"),
      // the whole store measured 988 B per crawled URL (traced
      // crawl-revisit, snapshot.bytes_per_url), so a docs file stays ≲ 8 MB
      frontierCount, rowsPerFile = 8000L)
    val crawlLog = sizedForWrite(results.select($"round", $"seq", $"url", $"canonUrl",
      $"host", $"status", $"attempts"), frontierCount, rowsPerFile = 500000L)
    val seen = sizedForWrite(frontier.select($"round", $"seq", $"canonUrl", $"host"),
      frontierCount, rowsPerFile = 500000L)
    // results is a narrow read of the fetch outcome's cache, whose
    // partitions are the fetch partitions
    val metrics = results.groupBy(spark_partition_id().as("partitionId")).agg(
      lit(round).as("round"),
      countDistinct($"host").as("hosts"),
      sum(when($"status" === "fetched", 1L).otherwise(0L)).as("fetched"),
      sum(when($"status" =!= "fetched", 1L).otherwise(0L)).as("failed"))

    store.commit(round,
      Map("docs" -> docs, "crawl_log" -> crawlLog, "seen" -> seen,
        "metrics" -> sizedForWrite(metrics, 1L, 1L),
        "host_state" -> sizedForWrite(hostState, hostStateRows, 500000L)),
      knownCounts = Map("seen" -> frontierCount, "crawl_log" -> frontierCount,
        "host_state" -> hostStateRows),
      metricsJson = s"""{"next_seq":$nextSeq,"frontier":$frontierCount,"state_base":$baseRound}""")
  }
}

object Crawler {
  /** A frontier url's salt lane: its host's urls spread over `saltFactor`
    * lanes by a hash of the canonical url (lane 0 when unsalted). The
    * politeness clock is keyed by (host, lane) in the batch scheduler and
    * its streaming twin alike.
    */
  def laneCol(canonUrl: Column, saltFactor: Int): Column =
    if (saltFactor <= 1) lit(0)
    else pmod(xxhash64(canonUrl), lit(saltFactor)).cast("int")
}

/** Scalable contiguous sequence assignment: avoids a single-partition
  * global window. Range-partition + sort by the order key, number rows
  * within each partition, then add per-partition offsets computed from the
  * (tiny, collected) partition counts. Equivalent to RDD zipWithIndex but
  * stays in the DataFrame API.
  */
object Sequencer {
  /** Returns (sequenced df, total row count, cache handle to unpersist once
    * downstream consumers are done).
    *
    * After repartitionByRange + sortWithinPartitions, rows are globally
    * ordered across partition boundaries, so monotonically_increasing_id —
    * (partitionId << 33) | localIndex, assigned in partition-scan order —
    * already numbers rows in order WITHIN each partition; one tiny
    * per-partition count pass yields the offsets. This is zipWithIndex
    * without leaving the DataFrame API and without the second shuffle a
    * window over partition ids would cost. Determinism: range boundaries
    * depend only on key values (seeded sampler), the sort is total
    * ((ord0, ord1) unique), and the id is materialized into the cache.
    */
  def addSeq(df: DataFrame, orderCols: Seq[Column], out: String,
      start: Long = 0L): (DataFrame, Long, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val parted = df.repartitionByRange(orderCols: _*).sortWithinPartitions(orderCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .persist()
    val counts = parted
      .groupBy(shiftrightunsigned($"__mid", 33).cast("int").as("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum
    val offsetOf = counts.map(_._1).zip(
      counts.scanLeft(start) { case (acc, (_, n)) => acc + n }.dropRight(1)).toMap
    val offU = udf((pid: Int) => offsetOf(pid))
    val res = parted
      .withColumn(out,
        offU(shiftrightunsigned($"__mid", 33).cast("int")) +
          ($"__mid".bitwiseAND(lit((1L << 33) - 1))))
      .drop("__mid")
    (res, total, parted)
  }
}
