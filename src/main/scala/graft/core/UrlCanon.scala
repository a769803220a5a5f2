package graft.core

/** URL canonicalization with the exact semantics of the reference's
  * `normalize_url` (/root/reference/crawler/utils/url_deduplicator.py:14-37):
  *
  *   1. strip + lowercase the whole URL,
  *   2. split into (scheme, netloc, path, params, query, fragment) the way
  *      `urllib.parse.urlparse` does,
  *   3. reassemble with the path's trailing '/'s removed (ALL of them —
  *      Python `str.rstrip`), params+query kept, fragment dropped.
  *
  * Implemented as a pure function (no java.net.URI — its parsing rejects
  * some inputs urllib accepts). The synthetic URL grammar never emits
  * path params (';'), so the params component is handled as part of path.
  * Exposed both as a plain Scala function (used by the sequential oracle)
  * and as a Spark UDF / column expression in the pipeline.
  */
object UrlCanon {

  /** Canonical form per reference semantics; total (never throws). */
  def canonicalize(rawUrl: String): String = {
    if (rawUrl == null) return null
    val url = rawUrl.trim.toLowerCase
    val (scheme, afterScheme) = {
      val i = url.indexOf("://")
      if (i >= 0) (url.substring(0, i), url.substring(i + 3)) else ("", url)
    }
    if (scheme.isEmpty) {
      // urlparse without '//' puts everything before '?' in path
      // (fragment dropped, trailing '/'s stripped, query kept)
      val noFrag = cutAt(url, '#')
      val (p, q) = splitAt(noFrag, '?')
      val canonPath = p.reverse.dropWhile(_ == '/').reverse
      return if (q.nonEmpty) canonPath + "?" + q else canonPath
    }
    val netlocEnd = afterScheme.indexWhere(c => c == '/' || c == '?' || c == '#') match {
      case -1 => afterScheme.length
      case i  => i
    }
    val netloc = afterScheme.substring(0, netlocEnd)
    val rest = afterScheme.substring(netlocEnd)
    val (beforeFrag, _) = splitAt(rest, '#')
    val (path, query) = splitAt(beforeFrag, '?')
    val canonPath = path.reverse.dropWhile(_ == '/').reverse
    val sb = new StringBuilder(scheme).append("://").append(netloc).append(canonPath)
    if (query.nonEmpty) sb.append('?').append(query)
    sb.toString
  }

  /** Host (netloc) of a URL; mirrors RateLimiter._extract_domain
    * (/root/reference/crawler/utils/rate_limiter.py:60-72): parses the
    * netloc when the string starts with http(s)://, else returns it as-is.
    */
  def host(urlOrDomain: String): String = {
    if (urlOrDomain == null) return ""
    val s = urlOrDomain
    if (s.startsWith("http://") || s.startsWith("https://")) {
      val after = s.substring(s.indexOf("://") + 3)
      val end = after.indexWhere(c => c == '/' || c == '?' || c == '#')
      if (end == -1) after else after.substring(0, end)
    } else s
  }

  /** Path component (after netloc, before '?'/'#') — used for robots
    * disallow-prefix checks.
    */
  def path(url: String): String = {
    if (url == null) return ""
    val i = url.indexOf("://")
    if (i < 0) return url
    val after = url.substring(i + 3)
    val start = after.indexWhere(c => c == '/' || c == '?' || c == '#')
    if (start == -1 || after.charAt(start) != '/') return ""
    cutAt(cutAt(after.substring(start), '#'), '?')
  }

  /** Stable 64-bit FNV-1a hash of a string — the token hash of SimHash,
    * the jitter seed of the host clocks, and the seed of the fixtures'
    * synthetic pages, faults and media bytes. Deterministic across JVMs
    * (unlike Object.hashCode). Not a routing key: the seen set and its
    * bloom bank are partitioned by Spark's hash of the canonical URL.
    */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private def cutAt(s: String, c: Char): String = {
    val i = s.indexOf(c)
    if (i == -1) s else s.substring(0, i)
  }
  private def splitAt(s: String, c: Char): (String, String) = {
    val i = s.indexOf(c)
    if (i == -1) (s, "") else (s.substring(0, i), s.substring(i + 1))
  }
}
