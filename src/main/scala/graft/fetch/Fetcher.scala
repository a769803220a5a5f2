package graft.fetch

import graft.core._
import graft.fixtures.Fixtures

/** HTTP status model: 200, 429 (rate-limited), 500, 598 (timeout). */
final case class FetchResponse(status: Int, html: String)

/** Fetch abstraction — the reference's `_fetch_html` network call
  * (/root/reference/crawler/content_crawler.py:110-178) behind a trait so
  * the sandbox uses a deterministic synthetic fetcher (no egress). A real
  * HTTP implementation would slot in here unchanged; everything above this
  * trait (politeness, backoff, parse) is transport-agnostic.
  */
trait Fetcher extends Serializable {
  /** attempt is 1-based; faults are per-(url, attempt). */
  def fetch(canonUrl: String, attempt: Int): FetchResponse
}

/** Deterministic fetcher over the fixture corpus: per-URL injected faults
  * (429 / timeout / 500 for the first `count` attempts), then the fixture
  * HTML page.
  */
object SyntheticFetcher extends Fetcher {
  override def fetch(canonUrl: String, attempt: Int): FetchResponse =
    Fixtures.fault(canonUrl) match {
      case Some(FetchFault(_, kind, count)) if attempt <= count =>
        kind match {
          case "http_429" => FetchResponse(429, "")
          case "timeout"  => FetchResponse(598, "")
          case _          => FetchResponse(500, "")
        }
      case _ => FetchResponse(200, Fixtures.html(canonUrl))
    }
}

/** Per-host politeness + retry state machine, exactly the reference's
  * RateLimiter semantics (/root/reference/crawler/utils/rate_limiter.py):
  *
  *  - each top-level fetch first waits the host's crawl-delay since the
  *    last request (wait(), :163-211) — here advanced on a VIRTUAL clock
  *    (no sleeping; ordering and state transitions are what parity needs,
  *    wall-clock pacing is a deployment concern behind the same API);
  *  - jitter (F15, :136-153 + :186-190): when enabled, each wait adds
  *    U(jitterMin, jitterMax) to the base delay. The reference draws from
  *    `random`; here the draw is a seeded splitmix over (clock seed, draw
  *    ordinal) — identically distributed, but reproducible, so a crawl
  *    with jitter is still resumable/deterministic (engine-wide
  *    invariant). Parity mode keeps jitter off, like the reference's
  *    set_jitter_enabled(False) (:107-114);
  *  - HTTP 429 increments the host retry counter; counter > max_retries
  *    suspends the host permanently for the run (:213-257), else waits
  *    2^retry seconds and retries the SAME url (content_crawler.py:143-152,
  *    each retry paying the wait() delay again);
  *  - any successful fetch resets the counter (:157 via reset_retry_count);
  *  - timeout / HTTP 5xx fail the url with no retry and no counter change
  *    (content_crawler.py:170-178);
  *  - a suspended host fails all its remaining urls (wait() returns -1).
  *
  * One instance per (host, salt-lane). When a hot host is salted across k
  * lanes, each lane paces at delay*k so the aggregate per-host budget is
  * preserved (SURVEY §7.4.4).
  */
final class HostClock(delay: Double, maxRetries: Int,
    jitter: Option[(Double, Double)] = None, seedKey: Long = 0L) extends Serializable {
  var virtualTime: Double = 0.0
  var retryCount: Int = 0
  var suspended: Boolean = false
  var drawCount: Long = 0L

  /** One wait(): base delay + optional seeded-uniform jitter; returns the
    * effective delay applied (tested against the reference's
    * [base+min, base+max] bound property).
    */
  def waitOnce(): Double = {
    val d = jitter match {
      case Some((lo, hi)) =>
        val u = HostClock.unitDouble(graft.fixtures.Fixtures.mix(seedKey, drawCount))
        drawCount += 1
        delay + lo + u * (hi - lo)
      case None => delay
    }
    virtualTime += d
    d
  }

  /** Returns (status, attempts, html): status ∈ fetched|fetch_failed|suspended. */
  def fetchOne(fetcher: Fetcher, canonUrl: String): (String, Int, String) = {
    if (suspended) return ("suspended", 0, "")
    var attempt = 1
    while (true) {
      waitOnce() // wait() before every attempt
      val resp = fetcher.fetch(canonUrl, attempt)
      resp.status match {
        case 200 =>
          retryCount = 0
          return ("fetched", attempt, resp.html)
        case 429 =>
          retryCount += 1
          if (retryCount > maxRetries) {
            suspended = true
            return ("fetch_failed", attempt, "")
          }
          virtualTime += math.pow(2.0, retryCount) // exponential backoff
          attempt += 1
        case _ =>
          return ("fetch_failed", attempt, "")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** This clock's state, as checkpointed for its (host, lane). */
  def state(host: String, lane: Int): HostState =
    HostState(host, lane, retryCount, suspended, virtualTime, drawCount)
}

object HostClock {
  /** The clock of `s`'s (host, lane) under `cfg`, restored to `s`: the
    * host's robots crawl-delay (else the default) × saltFactor, jitter when
    * enabled, seeded per (host, lane). The batch scheduler and its
    * streaming twin both build their clocks here.
    */
  def restore(cfg: CrawlConfig, robots: Map[String, RobotsRule], s: HostState): HostClock = {
    val delay = robots.get(s.host).map(_.crawlDelay).getOrElse(cfg.defaultDelay) *
      math.max(1, cfg.saltFactor)
    val c = new HostClock(delay, cfg.maxRetries,
      jitter = if (cfg.jitterEnabled) Some((cfg.jitterMin, cfg.jitterMax)) else None,
      seedKey = UrlCanon.hash64(s.host) ^ s.lane.toLong)
    c.retryCount = s.retryCount; c.suspended = s.suspended
    c.virtualTime = s.virtualTime; c.drawCount = s.drawCount
    c
  }

  /** Uniform [0, 1) from a 64-bit hash (53 mantissa bits). */
  def unitDouble(h: Long): Double = (h >>> 11) * 1.1102230246251565e-16
}
