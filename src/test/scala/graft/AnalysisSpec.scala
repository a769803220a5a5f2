package graft

import graft.analysis._
import org.scalatest.funsuite.AnyFunSuite

/** Pure-function analysis parity: pinned vectors from a CPython replica of
  * the reference algorithms (sentiment.py, keyword_extractor.py,
  * issue_detector.py) plus the reference property suite's invariants
  * (tests/test_sentiment_property.py, test_issue_detector_property.py).
  */
class AnalysisSpec extends AnyFunSuite {

  // ---- sentiment (F10) ----------------------------------------------------
  test("sentiment score = (p-n)/(p+n), non-overlapping counts, clamped") {
    // pinned against the reference SentimentAnalyzer run on its own
    // lexicon files (this session): the real lexicon is Korean-only, so
    // English terms score 0.0
    assert(Sentiment.score("좋다 좋다 나쁘다") == (2.0 - 1.0) / 3.0)
    assert(Sentiment.score("no sentiment words here at all") == 0.0)
    assert(Sentiment.score("bug bug bug") == 0.0)
    assert(Sentiment.score("최악 최악") == -1.0)
    assert(Sentiment.score("좋다 최악") == 0.0)
    assert(Sentiment.score("갓겜 갓겜 노잼") == 0.6) // ("갓겜"+"갓")×2 hits vs "노잼"
  }

  test("custom-lexicon automaton cache: counter equals size after concurrent misses") {
    // 96 distinct pairs > the 64-entry cap; 8 threads meet at a barrier
    // before each lookup, so they miss on the same pair together and their
    // inserts race each other and the evictions
    val pairs = (0 until 96).map(i => (Set(s"p$i", "good"), Set(s"n$i")))
    val threads = 8
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val tasks = (0 until threads).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 3).foreach { _ =>
            pairs.foreach { case (pos, neg) =>
              barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
              assert(Sentiment.hits2("good p1 n1", pos, neg)._1 >= 1)
            }
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val (counter, size) = Sentiment.acCacheCounts
    assert(counter == size, s"counter $counter vs cache size $size")
  }

  test("label thresholds ±0.1 (sentiment.py:132-146)") {
    assert(Sentiment.label(0.11) == "positive")
    assert(Sentiment.label(0.1) == "neutral")
    assert(Sentiment.label(-0.1) == "neutral")
    assert(Sentiment.label(-0.11) == "negative")
  }

  test("post score weights title 2x; comment blend 0.7/0.3") {
    // title-only positive word counted twice vs one negative in body
    val s = Sentiment.postScore("좋다", "나쁘다")
    assert(s == (2.0 - 1.0) / 3.0)
    val blended = Sentiment.postWithCommentsScore("좋다", "", Seq("나쁘다"))
    assert(math.abs(blended - (1.0 * 0.7 + -1.0 * 0.3)) < 1e-12)
    // no comments → post score unchanged
    assert(Sentiment.postWithCommentsScore("좋다", "", Seq.empty) == Sentiment.postScore("좋다", ""))
  }

  test("score in [-1,1] and confidence in [0,1] (500 fixture texts)") {
    (0 until 500).foreach { i =>
      val t = fixtures.Fixtures.words(fixtures.Fixtures.mix(77L, i.toLong), 12, 1L)
      val s = Sentiment.score(t)
      assert(s >= -1.0 && s <= 1.0)
      val c = Sentiment.confidence(t)
      assert(c >= 0.0 && c <= 1.0)
    }
  }

  // ---- keywords (F7/F8/F9/A1) ---------------------------------------------
  test("tokenize + Korean 2/3-gram expansion matches CPython-pinned vectors") {
    assert(Keywords.tokenize(Keywords.preprocess("무한로딩")) ==
      Vector("무한로딩", "무한", "한로", "로딩", "무한로", "한로딩"))
    assert(Keywords.extractFromText("버그 버그 업데이트 패치 업데이트 버그") ==
      Vector("버그", "업데이트", "업데", "데이", "이트", "업데이", "데이트", "패치"))
    // "합니다" is a stopword in the full DEFAULT_STOPWORDS — the 3-gram is
    // filtered (pinned against the reference KeywordExtractor this session)
    assert(Keywords.extractFromText("무한로딩 문제가 심각합니다 무한로딩") ==
      Vector("무한로딩", "무한", "한로", "로딩", "무한로", "한로딩", "문제가",
        "심각합니다", "심각", "각합", "합니", "니다", "심각합", "각합니"))
    assert(Keywords.extractFromText("Server lag and lag server LAG") ==
      Vector("lag", "server", "and"))
    assert(Keywords.extractFromText("좋다 <b>최고</b> https://x.com/path 좋다") ==
      Vector("좋다", "최고"))
    assert(Keywords.extractFromText("아 이 게임 정말 ㅋㅋㅋ") == Vector.empty)
  }

  test("most_common tie-break = first-occurrence order") {
    assert(Keywords.topByFrequency(Seq("bb", "aa", "bb", "aa", "cc"), 3) ==
      Vector("bb", "aa", "cc"))
    assert(Keywords.topByFrequency(Seq("zz", "aa"), 2) == Vector("zz", "aa"))
  }

  // ---- clustering (F11, issue_detector.py:77-168) --------------------------
  test("keyword similarity: equal=1, containment=0.8, else char-Jaccard") {
    assert(Issues.keywordSimilarity("버그", "버그") == 1.0)
    assert(Issues.keywordSimilarity("버그", "버그수정") == 0.8)
    assert(Issues.keywordSimilarity("ab", "bc") == 1.0 / 3.0)
    assert(Issues.keywordSimilarity("ab", "cd") == 0.0)
  }

  test("greedy clustering: every keyword in exactly one cluster; representative = first member") {
    val kws = Seq("버그", "버그수정", "패치", "패치노트", "서버")
    val clusters = Issues.clusterKeywords(kws)
    assert(clusters.flatten.sorted == kws.sorted.toVector)
    assert(clusters.map(_.head).distinct.size == clusters.size)
    // 버그수정 contains 버그 → same cluster
    assert(clusters.exists(c => c.contains("버그") && c.contains("버그수정")))
    // deterministic on repeat
    assert(Issues.clusterKeywords(kws) == clusters)
  }

  test("bug cluster classification (P12 analogue over cluster keywords)") {
    assert(Issues.isBugCluster(Seq("서버버그")))   // contains bug keyword
    assert(Issues.isBugCluster(Seq("crash")))
    assert(!Issues.isBugCluster(Seq("패치", "이벤트")))
  }

  test("severity ladder 0.7/0.5/0.3") {
    assert(Issues.severityOf(0.71) == "critical")
    assert(Issues.severityOf(0.7) == "critical")
    assert(Issues.severityOf(0.5) == "high")
    assert(Issues.severityOf(0.3) == "medium")
    assert(Issues.severityOf(0.29) == "low")
  }
}
