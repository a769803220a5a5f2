package graft.streaming

import graft.core._
import graft.fetch.{Fetcher, HostClock, SyntheticFetcher}
import graft.pipeline.Crawler
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the engine's stateful/time-based
  * semantics (SURVEY §2.9). The batch round loop remains the primary
  * execution mode (§7.4 argues batch rounds over streaming for the
  * frontier); these operators exist for continuous-ingest deployments:
  * docs land as an append stream, trends/alerts update incrementally, and
  * the politeness scheduler runs as keyed state.
  */
object Streaming {

  /** T6 as a streaming tumbling window: per-day sentiment counts over an
    * appending docs stream. Watermark bounds state; late rows beyond it
    * are dropped (the reference recomputes batches, so parity mode simply
    * re-runs the batch aggregate — this is the incremental form).
    */
  def sentimentTrendStream(docs: DataFrame, watermark: String = "1 day"): DataFrame = {
    val scored = graft.analysis.Sentiment.withSentiment(docs)
    scored
      .filter(col("created_at").isNotNull)
      .withWatermark("created_at", watermark)
      .groupBy(window(col("created_at"), "1 day").as("bucket"))
      .agg(avg(col("sentiment_score")).as("value"), count(lit(1)).as("count"))
      .select(col("bucket.start").as("date"), col("value"), col("count"))
  }

  /** T5 as a sliding window: posts per keyword over the urgent horizon
    * (24 h window sliding hourly) — the streaming form of the 24h/10-post
    * urgent rule (alert_manager.py:286-324).
    */
  def urgentCountsStream(docs: DataFrame, watermark: String = "1 day"): DataFrame =
    docs
      .filter(col("created_at").isNotNull)
      .withWatermark("created_at", watermark)
      .groupBy(window(col("created_at"), "24 hours", "1 hour"), col("keyword"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= graft.analysis.Alerts.UrgentMinPosts)
      .select(col("window.start").as("window_start"), col("keyword"), col("n"))

  /** W4/U5 as streaming state: first-wins URL-seen dedup over an appending
    * candidate stream via flatMapGroupsWithState keyed by canonical URL —
    * the streaming twin of the batch window-dedup + seen anti-join. Each
    * key's state is one boolean ("emitted already"); within a micro-batch
    * the earliest discovery (ord0, ord1) wins, matching the batch order.
    * State is unbounded by design here (the batch engine's bloom+exact
    * tier is the scale path; a TTL'd GroupStateTimeout would bound it for
    * bounded-revisit policies).
    */
  def seenDedupStream(cands: Dataset[(String, String, Long, Int)]): Dataset[(String, String, Long, Int)] = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands
      .groupByKey(_._1) // canonical URL
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[(String, String, Long, Int)], state: GroupState[Boolean]) => {
          if (state.getOption.contains(true)) Iterator.empty
          else {
            state.update(true)
            Iterator(rows.minBy(r => (r._3, r._4))) // first discovery wins
          }
        })
  }

  /** T1/T2 as keyed streaming state: the politeness + retry/suspension
    * state machine via flatMapGroupsWithState keyed by (host, salt lane),
    * the batch scheduler's key. Each micro-batch's URLs for a (host, lane)
    * are processed in seq order against its persistent GroupState — the
    * streaming twin of the batch mapPartitions scheduler (same clocks,
    * built by HostClock.restore; the HostState the batch checkpoints in
    * its snapshot is carried by the streaming checkpoint instead).
    */
  def politenessStream(frontier: Dataset[FrontierEntry],
      fetcher: Fetcher = SyntheticFetcher,
      config: CrawlConfig = CrawlConfig()): Dataset[CrawlLogEntry] = {
    val spark = frontier.sparkSession
    import spark.implicits._
    val robots = graft.fixtures.Fixtures.robotsMap

    frontier
      .select(struct(col("*")).as("_1"), Crawler.laneCol(col("canonUrl"), config.saltFactor).as("_2"))
      .as[(FrontierEntry, Int)]
      .groupByKey { case (e, lane) => (e.host, lane) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, Int), rows: Iterator[(FrontierEntry, Int)], state: GroupState[HostState]) => {
          val (host, lane) = key
          val clock = HostClock.restore(config, robots,
            state.getOption.getOrElse(HostState.initial(host, lane)))
          val out = rows.map(_._1).toSeq.sortBy(_.seq).map { e =>
            val (status, attempts, _) = clock.fetchOne(fetcher, e.canonUrl)
            CrawlLogEntry(e.round, e.seq, e.url, e.canonUrl, e.host, status, attempts)
          }
          state.update(clock.state(host, lane))
          out.iterator
        })
  }
}
