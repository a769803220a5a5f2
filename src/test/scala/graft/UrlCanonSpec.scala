package graft

import graft.core.UrlCanon
import graft.fixtures.Fixtures
import org.scalatest.funsuite.AnyFunSuite

/** P1/F1 parity: pinned vectors computed with CPython 3 urllib.parse via the
  * reference's exact normalize_url
  * (/root/reference/crawler/utils/url_deduplicator.py:14-37).
  * Property cases are deterministic seeded sweeps (≥100 each — the
  * reference's Hypothesis convention, tests/test_*_property.py).
  */
class UrlCanonSpec extends AnyFunSuite {

  val vectors: Seq[(String, String)] = Seq(
    "https://Steam.Example.org/board/1/post/42/" -> "https://steam.example.org/board/1/post/42",
    "HTTPS://STEAM.EXAMPLE.ORG/BOARD/1/POST/42#comment_3" -> "https://steam.example.org/board/1/post/42",
    "  https://inven.example.kr/board/2/post/7?ref=search " -> "https://inven.example.kr/board/2/post/7?ref=search",
    "https://a.example.com/" -> "https://a.example.com",
    "https://a.example.com" -> "https://a.example.com",
    "https://a.example.com///" -> "https://a.example.com",
    "https://a.example.com/x/y/?q=1&b=2#frag" -> "https://a.example.com/x/y?q=1&b=2",
    "https://a.example.com/x;p=1?q=1" -> "https://a.example.com/x;p=1?q=1",
    "http://b.example.com/path/TO/Thing/?Page=2#x" -> "http://b.example.com/path/to/thing?page=2",
    "https://a.example.com?q=1" -> "https://a.example.com?q=1",
    "https://a.example.com/#frag" -> "https://a.example.com",
    "example.com/path/" -> "example.com/path",
    "https://cdn.example.org/img/123.jpg" -> "https://cdn.example.org/img/123.jpg",
  )

  test("canonicalize matches urllib.parse-pinned vectors") {
    vectors.foreach { case (in, want) =>
      assert(UrlCanon.canonicalize(in) == want, s"input: $in")
    }
  }

  test("canonicalize is idempotent over the noisy URL grammar (500 cases)") {
    (0 until 500).foreach { i =>
      val h = Fixtures.mix(Fixtures.Seed, 900L, i.toLong)
      val u = Fixtures.noisyUrl(
        Fixtures.Hosts(Fixtures.bounded(h, Fixtures.Hosts.length)),
        Fixtures.bounded(Fixtures.mix(h, 1L), 5),
        Fixtures.bounded(Fixtures.mix(h, 2L), 1000), h)
      val once = UrlCanon.canonicalize(u)
      assert(UrlCanon.canonicalize(once) == once, s"not idempotent: $u")
      assert(!once.contains("#") && once == once.toLowerCase)
    }
  }

  test("noisy variants of the same page canonicalize to the same key (200 cases)") {
    (0 until 200).foreach { i =>
      val h1 = Fixtures.mix(1L, i.toLong); val h2 = Fixtures.mix(2L, i.toLong)
      val host = Fixtures.Hosts(i % Fixtures.Hosts.length)
      val a = UrlCanon.canonicalize(Fixtures.noisyUrl(host, i % 5, i % 1000, h1))
      val b = UrlCanon.canonicalize(Fixtures.noisyUrl(host, i % 5, i % 1000, h2))
      // variants differ only in case/slash/fragment/whitespace/query —
      // query is preserved by normalize_url, so strip it before comparing
      def noQ(s: String) = s.takeWhile(_ != '?')
      assert(noQ(a) == noQ(b), s"$a vs $b")
    }
  }

  test("host extraction mirrors RateLimiter._extract_domain") {
    assert(UrlCanon.host("https://steam.example.org/board/1/post/2") == "steam.example.org")
    assert(UrlCanon.host("http://a.b/x") == "a.b")
    assert(UrlCanon.host("steam.example.org") == "steam.example.org") // passthrough
    assert(UrlCanon.host("https://no-path.example.com") == "no-path.example.com")
  }

  test("path extraction for robots prefix checks") {
    assert(UrlCanon.path("https://h.x/board/4/post/1?q=1") == "/board/4/post/1")
    assert(UrlCanon.path("https://h.x") == "")
    assert(UrlCanon.path("https://h.x/#f") == "/")
  }

  test("hash64 is stable") {
    assert(UrlCanon.hash64("https://a.example.com") == UrlCanon.hash64("https://a.example.com"))
  }
}
