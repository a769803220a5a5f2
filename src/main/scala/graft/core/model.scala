package graft.core

/** Core data model for the Spark-native crawl engine.
  *
  * Shapes mirror the reference's dataclasses (see
  * /root/reference/crawler/models/data_models.py:17-197) re-expressed as
  * case classes with Spark Encoders, plus the north-rule mandated
  * interleaved span document:
  *   (doc_id:string, spans:array<struct<kind,text,media_ref,offset>>).
  */

/** One interleaved text/media span. `text` is null for media spans,
  * `media_ref` is null for text spans. `offset` is the 0-based ordinal in
  * the document; it defines the canonical span order
  * (reference parse order: title, body, comments —
  * /root/reference/crawler/parsers/generic.py:69-115; media spans are the
  * north-rule extension, interleaved at their discovery position).
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** The mandated input/output table row. doc_id = canonicalized URL. */
final case class Doc(doc_id: String, spans: Seq[Span])

/** A seed-list row ("search result"): raw URL plus the search context the
  * reference carries on SearchResult
  * (/root/reference/crawler/models/data_models.py:117-146).
  * `seq` is the position in the canonical seed order (site order then
  * adapter result order — orchestrator.py:289-304).
  */
final case class SeedRecord(
    seq: Long,
    url: String,
    site: String,
    keyword: String,
    title: String,
    snippet: String)

/** A frontier candidate after canonicalization; `round` is the crawl round
  * that discovered it (0 = seeds), `seq` the canonical order within the
  * round (first-wins dedup order — url_deduplicator.py:40-62).
  */
final case class FrontierEntry(
    round: Int,
    seq: Long,
    url: String,
    canonUrl: String,
    host: String,
    keyword: String)

/** Outcome of fetching+parsing one frontier entry. status is one of
  * fetched | fetch_failed | parse_failed | suspended.
  */
final case class CrawlLogEntry(
    round: Int,
    seq: Long,
    url: String,
    canonUrl: String,
    host: String,
    status: String,
    attempts: Int)

/** Per-(host, salt lane) scheduler state, checkpointed each round (SURVEY
  * T2: the reference RateLimiter's retry/suspension dicts live for the
  * whole crawl — rate_limiter.py:213-303 — so they must survive round
  * boundaries).
  */
final case class HostState(host: String, lane: Int, retryCount: Int, suspended: Boolean, virtualTime: Double, drawCount: Long)

object HostState {
  /** The state of a (host, lane) never fetched before. */
  def initial(host: String, lane: Int): HostState = HostState(host, lane, 0, false, 0.0, 0L)
}

/** Per-host robots/politeness budget (synthetic fixture; the reference has
  * per-domain delays only — rate_limiter.py:74-85 — robots.txt handling is
  * the north-rule extension).
  */
final case class RobotsRule(host: String, crawlDelay: Double, disallow: Seq[String])

/** Injected fetch fault: attempts 1..count of `url` fail with `kind`
  * ('http_429' | 'timeout' | 'http_500'), then succeed. Drives the
  * reference's backoff/suspension paths (rate_limiter.py:213-257).
  */
final case class FetchFault(url: String, kind: String, count: Int)

/** Parsed page prior to span encoding (the reference's PostContent —
  * data_models.py:52-114 — with outlinks added for frontier expansion).
  */
final case class ParsedComment(author: String, content: String, createdAt: Option[String], likeCount: Int)
final case class ParsedPost(
    url: String,
    title: String,
    body: String,
    site: String,
    keyword: String,
    author: Option[String],
    createdAt: Option[String], // ISO string; parsed to timestamp at the table edge
    viewCount: Int,
    likeCount: Int,
    comments: Seq[ParsedComment],
    mediaRefs: Seq[(Int, String)], // (position within body flow, media URL)
    bodySegments: Seq[String],     // body text split around media positions
    outlinks: Seq[String])

/** Engine configuration, mirroring CrawlerConfig defaults
  * (/root/reference/crawler/models/data_models.py:149-197).
  */
final case class CrawlConfig(
    defaultDelay: Double = 3.0,
    maxRetries: Int = 3,
    relevanceThreshold: Double = 0.5,
    maxResultsPerSite: Int = 10,
    maxCommentPages: Int = 3,     // comment pagination cap (data_models.py:163)
    jitterEnabled: Boolean = false, // parity mode: jitter off (rate_limiter.py:107-114)
    jitterMin: Double = 0.5,       // U(min,max) added per wait when enabled
    jitterMax: Double = 2.0,       // (rate_limiter.py:56-57 defaults)
    maxRounds: Int = 2,
    seenPartitions: Int = 32,      // the round's partition width; scale knob (10^10 URLs → raise)
    saltFactor: Int = 1,           // >1 splits each host across lanes (hot hosts' tail)
    bloomExpectedPerPartition: Long = 1000000L, // cap on one bloom filter's sized keys
    bloomFpp: Double = 0.01,       // target FPP of the whole bank
    collapseEvery: Int = 8,       // seen-chain collapse cycle (rounds)
    // Ignored: the crawl holds no checkpoint to free (between rounds it
    // keeps only the seen chain's caches; see Crawler). Kept only so
    // callers that still pass it by name compile; to be dropped with them.
    eagerCheckpointFree: Boolean = false)
