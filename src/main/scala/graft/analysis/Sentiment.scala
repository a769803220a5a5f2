package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexicon sentiment scoring with the exact semantics of the reference's
  * SentimentAnalyzer (/root/reference/crawler/analysis/sentiment.py):
  *
  *   - preprocess: lowercase, collapse whitespace, trim (:74-92);
  *   - score = (pos − neg) / (pos + neg) over NON-OVERLAPPING substring
  *     counts of the lexicon terms (Python str.count — :94-130), clamped
  *     to [−1, 1]; 0.0 when no hits;
  *   - label: > 0.1 positive, < −0.1 negative, else neutral (:132-146);
  *   - confidence = min(1, 0.5 + hits / wordCount · 0.5) (:148-179);
  *   - post score = analyze(title + " " + title + " " + body) — title ×2
  *     weight (:212-228);
  *   - post+comments = 0.7·post + 0.3·mean(comment scores), re-clamped
  *     (:249-287).
  *
  * The lexicon is injectable (the reference loads
  * lexicon/{positive,negative}.txt). The reference's O(|lexicon|·|text|)
  * scan is replaced by a one-pass Aho-Corasick automaton with identical
  * non-overlapping counts (see AhoCorasick.scala; equality with the naive
  * scan is a pinned ScalaCheck property). At corpus scale the scorer runs
  * once per document inside a single projection, the automaton built once
  * per executor JVM.
  */
object Sentiment {

  /** Lexicon loader with the reference's exact file semantics
    * (sentiment.py:43-72): one word per line, trimmed, blank lines and
    * #-comment lines skipped. The default lexicon is the reference's own
    * word files (crawler/analysis/lexicon/{positive,negative}.txt — public
    * data in the reference repo), bundled verbatim as classpath resources;
    * alternate lexicons are injectable exactly like the reference's
    * lexicon_dir constructor arg.
    */
  def loadLexicon(resourceOrPath: String): Set[String] = {
    val in = Option(getClass.getResourceAsStream(resourceOrPath))
      .getOrElse(java.nio.file.Files.newInputStream(java.nio.file.Paths.get(resourceOrPath)))
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSet
    } finally in.close()
  }

  val PositiveLexicon: Set[String] = loadLexicon("/graft/lexicon/positive.txt")
  val NegativeLexicon: Set[String] = loadLexicon("/graft/lexicon/negative.txt")

  def preprocess(text: String): String = {
    if (text == null || text.isEmpty) return ""
    text.toLowerCase.replaceAll("\\s+", " ").trim
  }

  /** The reference's literal scan shape — |lexicon| substring scans
    * (sentiment.py:94-130). Kept as the semantic pin for the automaton
    * (LexiconSpec property asserts equality); the scoring path below runs
    * the one-pass Aho-Corasick instead (≈|lexicon|× fewer scans per doc —
    * at 100 TB the analysis tier is dominated by this scorer).
    */
  private[graft] def naiveHits(processed: String, lexicon: Set[String]): Int =
    lexicon.iterator.map(w => Relevance.countOccurrences(processed, w)).sum

  // The default lexicon pair resolves by REFERENCE equality to a
  // once-per-JVM automaton — the per-document fast path never hashes the
  // two ~453-element Sets (a structural key would re-Murmur both Sets'
  // elements on every lookup). Non-default pairs (tests, custom lexicons)
  // fall back to a structurally-keyed cache; that cache strongly retains
  // its key Sets, so it is BOUNDED — a caller constructing fresh per-batch
  // sets cycles the cache instead of leaking it.
  private lazy val defaultAc = AhoCorasick.twoGroups(PositiveLexicon, NegativeLexicon)
  private val acCacheMax = 64
  private val acCache =
    scala.collection.concurrent.TrieMap.empty[(Set[String], Set[String]), AhoCorasick]
  // size tracked with a counter (TrieMap.size is O(n)); at capacity evict
  // ONE arbitrary entry instead of clearing — a workload cycling 64+ live
  // lexicon pairs degrades to one rebuild per new pair, not a full-cache
  // rebuild every cycle. The counter moves only on a successful insert or
  // remove, so it equals the cache size whenever no call is in flight;
  // concurrent misses may overshoot the bound by a few entries.
  private val acCacheSize = new java.util.concurrent.atomic.AtomicInteger(0)
  private def acFor(pos: Set[String], neg: Set[String]): AhoCorasick =
    if ((pos eq PositiveLexicon) && (neg eq NegativeLexicon)) defaultAc
    else {
      val k = (pos, neg)
      acCache.get(k) match {
        case Some(a) => a
        case None =>
          if (acCacheSize.get >= acCacheMax)
            acCache.headOption.foreach { case (ek, _) =>
              if (acCache.remove(ek).isDefined) acCacheSize.decrementAndGet()
            }
          // putIfAbsent, not getOrElseUpdate: the latter may run its builder
          // and then lose the insert race, which would count a phantom entry
          val built = AhoCorasick.twoGroups(pos, neg)
          acCache.putIfAbsent(k, built) match {
            case Some(winner) => winner
            case None => acCacheSize.incrementAndGet(); built
          }
      }
    }

  /** (counter, actual entries) of the non-default automaton cache. */
  private[graft] def acCacheCounts: (Int, Int) = (acCacheSize.get, acCache.size)

  /** (positive hits, negative hits) of a preprocessed text — one automaton
    * pass with per-term non-overlapping counts identical to naiveHits.
    */
  private[graft] def hits2(processed: String,
      pos: Set[String], neg: Set[String]): (Int, Int) = {
    val c = acFor(pos, neg).groupCounts(processed)
    (c(0), c(1))
  }

  def score(text: String,
      pos: Set[String] = PositiveLexicon, neg: Set[String] = NegativeLexicon): Double = {
    if (text == null || text.isEmpty) return 0.0
    val (np, nn) = hits2(preprocess(text), pos, neg)
    if (np + nn == 0) 0.0
    else math.max(-1.0, math.min(1.0, (np - nn).toDouble / (np + nn)))
  }

  def label(score: Double): String =
    if (score > 0.1) "positive" else if (score < -0.1) "negative" else "neutral"

  def confidence(text: String,
      pos: Set[String] = PositiveLexicon, neg: Set[String] = NegativeLexicon): Double = {
    if (text == null || text.isEmpty) return 0.5
    val p = preprocess(text)
    val (np, nn) = hits2(p, pos, neg)
    val n = np + nn
    val words = p.split(" ").count(_.nonEmpty)
    if (words == 0) 0.5 else math.min(1.0, 0.5 + (n.toDouble / words) * 0.5)
  }

  /** Post-level score: title weighted 2× (sentiment.py:212-228). */
  def postScore(title: String, body: String): Double =
    score(s"${nz(title)} ${nz(title)} ${nz(body)}")

  def postConfidence(title: String, body: String): Double =
    confidence(s"${nz(title)} ${nz(title)} ${nz(body)}")

  /** Post + comments blend 0.7/0.3 (sentiment.py:249-287). */
  def postWithCommentsScore(title: String, body: String, comments: Seq[String]): Double = {
    val ps = postScore(title, body)
    if (comments == null || comments.isEmpty) ps
    else {
      val ca = comments.map(score(_)).sum / comments.size
      math.max(-1.0, math.min(1.0, ps * 0.7 + ca * 0.3))
    }
  }

  private def nz(s: String): String = if (s == null) "" else s

  // ---- Spark column layer ------------------------------------------------

  /** Extract the reference's (title, body, comments) view from the span
    * table using pure Catalyst expressions (no UDF): body = body spans
    * joined by \n, comments = comment span texts in order.
    */
  def titleCol(spans: Column): Column =
    coalesce(element_at(expr("filter(spans, s -> s.kind = 'title')"), 1)("text"), lit(""))
  val bodyCol: Column =
    array_join(expr("transform(filter(spans, s -> s.kind = 'body'), s -> s.text)"), "\n")
  val commentsCol: Column =
    expr("transform(filter(spans, s -> s.kind = 'comment'), s -> s.text)")

  private val postScoreU = udf((t: String, b: String) => postScore(t, b))
  private val postConfU = udf((t: String, b: String) => postConfidence(t, b))
  private val blendedU = udf((t: String, b: String, c: Seq[String]) =>
    postWithCommentsScore(t, b, c))

  /** Adds sentiment struct (score/label/confidence on analyze_post
    * semantics) + blended post+comments score to a docs DataFrame that has
    * `title` and `spans` columns.
    */
  def withSentiment(docs: DataFrame): DataFrame = {
    docs
      .withColumn("body", bodyCol)
      .withColumn("comment_texts", commentsCol)
      .withColumn("sentiment_score", postScoreU(col("title"), col("body")))
      .withColumn("sentiment_label",
        when(col("sentiment_score") > 0.1, "positive")
          .when(col("sentiment_score") < -0.1, "negative")
          .otherwise("neutral"))
      .withColumn("sentiment_confidence", postConfU(col("title"), col("body")))
      .withColumn("sentiment_blended",
        blendedU(col("title"), col("body"), col("comment_texts")))
  }

  /** A2: label distribution. */
  def distribution(scored: DataFrame): DataFrame =
    scored.groupBy(col("sentiment_label").as("label")).count()

  /** A3: corpus average of the post score. */
  def average(scored: DataFrame): Double = {
    val r = scored.agg(avg(col("sentiment_score"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }
}
