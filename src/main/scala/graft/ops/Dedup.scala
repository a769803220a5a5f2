package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over a
  * (doc_id, text) documents table — exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, and embedding-cosine near-dup.
  *
  * Scale notes (the whole point of these ops at 100 TB):
  *   - exact dedup is one hash aggregation on the fingerprint — shuffle on
  *     md5, map-side partial agg for free;
  *   - MinHash signatures are a single explode + two-level hash agg (no
  *     per-pair work); LSH banding turns the O(n²) pair space into
  *     per-bucket candidate sets (shuffle keyed by (band, bucket-hash));
  *   - candidate verification (exact Jaccard / cosine) touches only pairs
  *     that share a bucket — the canonical shuffle-bounded near-dup plan;
  *   - everything is expressed on DataFrames so AQE can coalesce the
  *     (usually tiny) bucket-join output.
  */
object Dedup {

  // ---- exact -----------------------------------------------------------------

  /** Exact dedup: canonical representative = min(doc_id) per normalized
    * fingerprint. Returns (fingerprint, keep_id, n_dups).
    */
  def exactGroups(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(TextOps.fingerprintCol(col(textCol)).as("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))

  /** Docs surviving exact dedup (first-wins by doc_id). */
  def exactDedup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val keep = exactGroups(docs, textCol).select(col("keep_id").as("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  // ---- MinHash + LSH -----------------------------------------------------------

  /** Word w-shingles of a text (the unit hashed by MinHash), as a pure
    * Catalyst expression.
    *
    * Perf note (r07): higher-order functions are interpreted (no
    * whole-stage codegen, no common-subexpression elimination), so a
    * `split(text)` referenced inside the transform lambda would re-split
    * the WHOLE text once per emitted shingle — O(n²) per document
    * (measured: ~8 ms/doc at 54 tokens, the dominant cost of every
    * inverted-index query). The token array is therefore bound ONCE per
    * row through a single-element-array lambda (`transform(array(split),
    * ts -> ...)`), and w=1 short-circuits to the token array itself
    * (concat_ws of a single non-null token is the token). Semantics are
    * bit-identical to the original per-index slice construction.
    */
  def shingleCol(text: Column, w: Int = 3): Column =
    if (w == 1) {
      val toks = split(text, " ")
      when(size(toks) >= 1, toks).otherwise(array(text))
    } else {
      element_at(
        transform(array(split(text, " ")), ts =>
          when(size(ts) >= w,
            transform(sequence(lit(0), size(ts) - w),
              i => concat_ws(" ", slice(ts, i + 1, lit(w)))))
            .otherwise(array(text))),
        1)
    }

  /** MinHash signature: for each of k seeds, min(md5(shingle || '_' || seed))
    * — min over lexicographic md5 hex strings, reproducible in any engine
    * with md5 (the classic permutation-free MinHash construction).
    * One explode + one groupBy; signature columns mh_0..mh_{k−1}.
    */
  def minhashSignatures(docs: DataFrame, k: Int = 8, shingleW: Int = 3): DataFrame = {
    // array_distinct before the explode: min(md5(...)) over the shingle
    // MULTISET equals min over the SET, and duplicate shingles would pay
    // k md5s each for nothing (w=1 token duplication is ~2.3× on the
    // bench corpus)
    val exploded = Par.widen(docs)
      .select(col("doc_id"),
        explode(array_distinct(shingleCol(col("text"), shingleW))).as("sh"))
    val aggs = (0 until k).map(i =>
      min(md5(concat(col("sh"), lit(s"_$i")))).as(s"mh_$i"))
    exploded.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: k signature columns split into `bands` bands of k/bands
    * rows each; band key = md5 of the concatenated band slice. Docs sharing
    * any (band, key) become candidate pairs (a < b to dedup the pair space).
    * Returns (band, a, b).
    */
  def lshCandidatePairs(sigs: DataFrame, k: Int = 8, bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (0 until rows).map(r => col(s"mh_${b * rows + r}")): _*)).as("key"))
    }
    val keyed = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    blockedPairs(keyed, Seq("band", "key"), "doc_id", Nil, maxBucket, "lshCandidatePairs")
      .filter(col("a") < col("b"))
      .select(col("band"), col("a"), col("b"))
      .distinct()
  }

  /** The blocked-pair skeleton shared by every bucketed near-dup operator:
    * rows of `keyed` sharing a `keys` bucket become candidate pairs. Returns
    * the keys plus each side's id (`a`, `b`) and `payload` columns, each
    * `(column, name)` renamed `<name>a` / `<name>b`; the caller applies its
    * own pair predicate, verify and threshold.
    *
    * The explicit fixed-width repartition on the bucket key means (a) the
    * guard groupBy, the guard join and the pair self-join all consume this
    * one exchange (ReusedExchange — the keyed frame is computed once, not
    * three times), and (b) AQE cannot coalesce the quadratic pair expansion
    * into a few tasks based on the tiny pre-join input (see
    * ngramJaccardPairs). `Guard.capBuckets` drops buckets over `maxBucket`
    * and reports the drops under `label`.
    */
  private[ops] def blockedPairs(keyed: DataFrame, keys: Seq[String], id: String,
      payload: Seq[(String, String)], maxBucket: Int, label: String): DataFrame = {
    val p = keyed.sparkSession.sessionState.conf.numShufflePartitions
    val guarded = Guard.capBuckets(keyed.repartition(p, keys.map(col): _*), keys,
      maxBucket, label)
    def side(s: String) = guarded.select(keys.map(col) ++
      (col(id).as(s) +: payload.map { case (c, n) => col(c).as(n + s) }): _*)
    side("a").join(side("b"), keys)
  }

  /** Exact word-shingle Jaccard for candidate pairs (the verify stage after
    * LSH): returns (a, b, jaccard). Joins the shingle sets only for
    * candidate pairs — no all-pairs blowup.
    */
  def verifyJaccard(docs: DataFrame, pairs: DataFrame, shingleW: Int = 3): DataFrame = {
    val sets = Par.widen(docs).select(col("doc_id"),
      array_distinct(shingleCol(col("text"), shingleW)).as("sh"))
    pairs.select(col("a"), col("b")).distinct()
      .join(sets.withColumnRenamed("doc_id", "a").withColumnRenamed("sh", "sha"), Seq("a"))
      .join(sets.withColumnRenamed("doc_id", "b").withColumnRenamed("sh", "shb"), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("uni", size(array_union(col("sha"), col("shb"))))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: candidates ∧ jaccard ≥ threshold. */
  def minhashDupPairs(docs: DataFrame, k: Int = 8, bands: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val pairs = lshCandidatePairs(minhashSignatures(docs, k), k, bands)
    verifyJaccard(docs, pairs).filter(col("jaccard") >= threshold)
  }

  /** All-pairs n-gram Jaccard above a threshold via an inverted-index join
    * on shared shingles (no LSH approximation): explode shingles, self-join
    * on shingle, count shared per pair, derive jaccard from set sizes.
    * Exact, and shuffle-bounded by shingle frequency (a stopword-shingle
    * cap `maxDf` drops degenerate hubs — the standard inverted-index
    * guard).
    */
  def ngramJaccardPairs(docs: DataFrame, shingleW: Int = 3,
      threshold: Double = 0.5, maxDf: Int = 1000,
      joinParallelism: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    val p = if (joinParallelism > 0) joinParallelism
      else spark.sessionState.conf.numShufflePartitions
    val sets = Par.widen(docs).select(col("doc_id"),
      array_distinct(shingleCol(col("text"), shingleW)).as("sh"))
      .withColumn("setSize", size(col("sh")))
    val inv = sets.select(col("doc_id"), col("setSize"), explode(col("sh")).as("sh"))
    // inverted-index guard: drop degenerate hub shingles (skipped when
    // capless — the exact-oracle contract query runs capless)
    val filtered = Guard.capBuckets(inv, Seq("sh"), maxDf, "ngramJaccardPairs")
    // EXPLICIT fixed-width repartition on the join key. The join inputs are
    // tiny (one row per doc-shingle) but the join OUTPUT is quadratic in
    // per-shingle df — AQE, which sizes partitions from the map-side input
    // bytes, would coalesce the pre-join exchanges to a handful of
    // partitions and run the pair expansion nearly serially. Pinning both
    // children to the same (sh, p) layout means the planner inserts no
    // further exchange and the expansion fans out across p tasks.
    val parted = filtered.repartition(p, col("sh"))
    // length filter (PPJoin-style, lossless): jaccard >= t forces
    // t·max(|a|,|b|) <= min(|a|,|b|); pairs failing it never reach the
    // aggregation
    val a = parted.select(col("sh"), col("doc_id").as("a"), col("setSize").as("sa"))
    val b = parted.select(col("sh"), col("doc_id").as("b"), col("setSize").as("sb"))
    a.join(b, Seq("sh")).filter(col("a") < col("b") &&
        greatest(col("sa"), col("sb")) * threshold <= least(col("sa"), col("sb")))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"), min(col("sa")).as("sa"), min(col("sb")).as("sb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sa") + col("sb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  // ---- SimHash -------------------------------------------------------------------

  /** 64-bit SimHash over word tokens (FNV-64 token hashes, unweighted):
    * near-dups have small Hamming distance. Pure Scala hashing (stable
    * across JVMs), one pass per doc.
    */
  def simhash(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = graft.core.UrlCanon.hash64(t)
      var i = 0
      while (i < 64) { if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1; i += 1 }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }
  private val simhashU = udf((text: String) =>
    if (text == null) 0L else simhash(text.split(" ").toSeq))
  def simhashCol(text: Column): Column = simhashU(text)

  /** Engine-default signatures: the single-pass FNV UDF above — one scan,
    * no shuffle beyond the blocking stage, ~3× cheaper than the portable
    * md5 construction (which pays md5 + base-conversion per token plus 60
    * parallel sum-aggregates per doc). Use `simhashPortableSigs` only when
    * an external engine must recompute the signatures bit-for-bit.
    */
  def simhashFnvSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhashCol(col("text")).as("sig"))

  /** Engine-portable SimHash signatures: token hash = first 15 hex chars of
    * md5 (60 bits, reproducible in any engine with md5 + base conversion —
    * DuckDB: ('0x'||substring(md5(t),1,15))::BIGINT), per-bit majority vote
    * over the token multiset. Pure DataFrame plan (explode + two hash
    * aggregations), no JVM-specific hashing — this is the signature the
    * driver's DuckDB oracle can recompute bit-for-bit.
    * Returns (doc_id, sig).
    */
  def simhashPortableSigs(docs: DataFrame, bits: Int = 60): DataFrame = {
    val toks = Par.widen(docs).select(col("doc_id"),
      explode(split(col("text"), " ")).as("t"))
      .withColumn("h", conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long"))
    // per-bit votes as `bits` parallel aggregates over ONE token explode —
    // a (doc, bit) explode would multiply the shuffle 60×; this keeps one
    // narrow row per token with map-side partial aggregation. (A
    // dedupe-tokens-first two-level variant was measured SLOWER here and
    // shuffles more at scale: the partial agg already reduces the shuffle
    // to docs×bits longs per map task, smaller than the distinct
    // (doc, token) stream it would pay an extra exchange for.)
    val votes = (0 until bits).map(i =>
      sum((shiftrightunsigned(col("h"), i) % 2) * 2 - 1).as(s"v_$i"))
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(i =>
          when(col(s"v_$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _).as("sig"))
  }

  /** SimHash near-dup pairs with a REAL Hamming guarantee: signatures are
    * split into `maxHamming + 1` blocks, so any pair within Hamming ≤
    * maxHamming shares at least one exact block (pigeonhole — a pair with
    * all blocks differing has ≥ maxHamming+1 differing bits). Candidates
    * verified with popcount. `maxBucket` guards degenerate blocks (e.g.
    * millions of near-empty docs sharing a block value) from going
    * quadratic — buckets above the cap are dropped from candidate
    * generation (recall guard rails, like maxDf for shingles).
    *
    * The block keyspace is FIXED at 2^width per block (width = bits /
    * (maxHamming+1)) — unlike LSH planes it cannot grow with the corpus,
    * so past ~maxBucket·2^width docs the AVERAGE block bucket exceeds the
    * cap and recall collapses. Pass `corpusSize` (a known or estimated doc
    * count) to fail loudly at that ceiling instead of returning an
    * empty-ish answer (at maxHamming=3/64 bits/maxBucket=10k the ceiling
    * is ~650M docs; beyond it, shard the corpus or raise maxBucket); the
    * drop ledger (`Guard.drainDropLedger`) reports the realized drop
    * fraction of any run.
    */
  def simhashDupPairs(docs: DataFrame, maxHamming: Int = 3, bits: Int = 64,
      maxBucket: Int = 10000,
      signatures: DataFrame => DataFrame = simhashFnvSigs(_),
      corpusSize: Long = -1L): DataFrame = {
    val nBlocks = maxHamming + 1
    require(nBlocks <= bits, s"maxHamming $maxHamming needs $nBlocks blocks > $bits bits")
    simhashBlockedPairs(signatures(docs), Seq("sig" -> "sig"), maxHamming, bits,
      maxBucket, corpusSize, "simhashDupPairs")
  }

  /** The SimHash pair body shared by the 64- and 128-bit entries, over a
    * signature held in `limbs` — 64-bit `(column, side name)` words, most
    * significant first. Blocks are `bits128` slices (the first
    * `maxHamming` blocks `bits / (maxHamming+1)` wide, the last takes the
    * rest); the verify is the popcount of the XOR summed over the limbs.
    */
  private def simhashBlockedPairs(sigs: DataFrame, limbs: Seq[(String, String)],
      maxHamming: Int, bits: Int, maxBucket: Int, corpusSize: Long, label: String): DataFrame = {
    val nBlocks = maxHamming + 1
    val width = bits / nBlocks
    Guard.warnIfUndersized(label, corpusSize, math.pow(2.0, width), maxBucket)
    val lo = col(limbs.last._1)
    val hi = if (limbs.size > 1) col(limbs.head._1) else lit(0L)
    val blocks = (0 until nBlocks).map { q =>
      val start = q * width
      val w = if (q == nBlocks - 1) bits - start else width
      struct(lit(q).as("q"), bits128(hi, lo, start, math.min(w, 64)).as("key"))
    }
    val sigCols = limbs.map(l => col(l._1))
    val keyed = sigs.select(col("doc_id") +: sigCols :+ explode(array(blocks: _*)).as("bk"): _*)
      .select(col("doc_id") +: sigCols :+ col("bk.q").as("q") :+ col("bk.key").as("key"): _*)
    blockedPairs(keyed, Seq("q", "key"), "doc_id", limbs, maxBucket, label)
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), limbs.map { case (_, n) =>
        bit_count(col(n + "a").bitwiseXOR(col(n + "b"))) }.reduce(_ + _).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- 128-bit SimHash (scale path past the 64-bit keyspace ceiling) -------

  /** Second independent FNV-1a stream for the 128-bit signature: same
    * prime, offset basis XOR'ed with the 64-bit golden-ratio constant.
    * "Independent" here needs only per-token bit-pattern decorrelation
    * between the two streams (each signature bit is a majority vote over
    * its own stream's bit), which a distinct basis provides — the classic
    * multi-hash construction, no second hash family required.
    */
  private[ops] def hash64b(s: String): Long = {
    var h = 0xcbf29ce484222325L ^ 0x9e3779b97f4a7c15L
    var i = 0
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 128-bit SimHash as (hi, lo): bits 0-63 vote on the primary FNV
    * stream (identical votes to the 64-bit `simhash` — `lo` EQUALS
    * `simhash(tokens)`), bits 64-127 on the second stream. Doubling the
    * signature doubles the per-block keyspace exponent: at maxHamming=3
    * the blocks go 16→32 bits wide, lifting the average-bucket recall
    * ceiling from ~maxBucket·2^16 (~650M docs at the 10k cap) to
    * ~maxBucket·2^32 (~4·10^13) — the scale-out the 64-bit geometry
    * fundamentally cannot reach (see simhashDupPairs scaladoc).
    */
  def simhash128(tokens: Seq[String]): (Long, Long) = {
    val acc = new Array[Int](128)
    tokens.foreach { t =>
      val h1 = graft.core.UrlCanon.hash64(t)
      val h2 = hash64b(t)
      var i = 0
      while (i < 64) { if (((h1 >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1; i += 1 }
      while (i < 128) { if (((h2 >>> (i - 64)) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1; i += 1 }
    }
    var lo = 0L; var hi = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) lo |= (1L << i); i += 1 }
    while (i < 128) { if (acc(i) > 0) hi |= (1L << (i - 64)); i += 1 }
    (hi, lo)
  }
  private val simhash128U = udf((text: String) =>
    if (text == null) (0L, 0L) else simhash128(text.split(" ").toSeq))

  /** Engine 128-bit signatures: (doc_id, sig_hi, sig_lo) — one scan, same
    * cost shape as simhashFnvSigs (two FNV streams fused in one pass).
    */
  def simhashFnv128Sigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhash128U(col("text")).as("s"))
      .select(col("doc_id"), col("s._1").as("sig_hi"), col("s._2").as("sig_lo"))

  private def mask64(n: Int): Long = if (n >= 64) -1L else (1L << n) - 1

  /** Bits [start, start+w) of the 128-bit value (hi«64)|lo, as a long. */
  private def bits128(hi: Column, lo: Column, start: Int, w: Int): Column = {
    require(w >= 1 && w <= 64 && start >= 0 && start + w <= 128,
      s"bad 128-bit slice [$start, ${start + w})")
    if (start >= 64)
      shiftrightunsigned(hi, start - 64).bitwiseAND(lit(mask64(w)))
    else if (start + w <= 64)
      shiftrightunsigned(lo, start).bitwiseAND(lit(mask64(w)))
    else { // slice straddles the hi/lo boundary
      val loBits = 64 - start
      shiftrightunsigned(lo, start).bitwiseOR(
        shiftleft(hi.bitwiseAND(lit(mask64(w - loBits))), loBits))
    }
  }

  /** 128-bit SimHash near-dup pairs — same pigeonhole blocking, guard and
    * popcount verify as `simhashDupPairs`, over (sig_hi, sig_lo)
    * signatures. Hamming is measured on the 128-bit signature, so the
    * pair set is not bit-identical to the 64-bit operator's (a different
    * signature is the point); the planted-dup recall contract is the same
    * and is pinned by OpsSpec. Requires maxHamming ≥ 1 (one block cannot
    * carry 128 bits in a long key).
    */
  def simhashDupPairs128(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000,
      signatures: DataFrame => DataFrame = simhashFnv128Sigs(_),
      corpusSize: Long = -1L): DataFrame = {
    val nBlocks = maxHamming + 1
    require(nBlocks >= 2 && nBlocks <= 128,
      s"simhashDupPairs128 needs 1 <= maxHamming <= 127, got $maxHamming")
    simhashBlockedPairs(signatures(docs), Seq("sig_hi" -> "h", "sig_lo" -> "l"),
      maxHamming, 128, maxBucket, corpusSize, "simhashDupPairs128")
  }

  /** Corpus-aware SimHash near-dup (mirrors embeddingDupPairsAuto): counts
    * the corpus once and runs the cheapest signature whose block keyspace
    * holds it under the guard with `headroom` to spare — the 64-bit
    * single-stream path up to ~maxBucket·2^(64/(maxHamming+1))/headroom
    * docs, the 128-bit path beyond (whose own hard ceiling ~maxBucket·2^32
    * at maxHamming=3 is re-checked by warnIfUndersized). `assumeCorpusSize`
    * (when > 0) skips the count and sizes geometry for that many docs —
    * for pipelines that know their scale up front, and for tests that pin
    * the switchover without materializing 10^9 rows.
    */
  def simhashDupPairsAuto(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000, headroom: Int = 8,
      assumeCorpusSize: Long = -1L): DataFrame = {
    val n = if (assumeCorpusSize > 0) assumeCorpusSize else docs.count()
    val w64 = 64 / (maxHamming + 1)
    val fits64 = n.toDouble / math.pow(2.0, w64) <= maxBucket.toDouble / headroom
    if (fits64)
      simhashDupPairs(docs, maxHamming, bits = 64, maxBucket = maxBucket, corpusSize = n)
    else
      simhashDupPairs128(docs, maxHamming, maxBucket = maxBucket, corpusSize = n)
  }

  // ---- embedding cosine near-dup ----------------------------------------------------

  /** Cosine similarity of two float-array columns. Accumulates in DOUBLE
    * (float products would drift ~1e-7 — enough to flip 6-decimal
    * roundings against any double-precision reference).
    *
    * r07: a tight-loop UDF instead of the previous zip_with + aggregate
    * construction — higher-order functions are interpreted (per-element
    * lambda dispatch + boxing; see shingleCol), so on a quadratic
    * pair-verify path the HOF chain was the hot spot. Summation order and
    * the dot/(sqrt·sqrt) arithmetic are IDENTICAL (index order, double
    * accumulate), so results are bit-for-bit the old expression's; length
    * mismatch yields null like zip_with's null padding did.
    */
  private val cosineU = udf { (a: Seq[Float], b: Seq[Float]) =>
    if (a == null || b == null || a.length != b.length) None
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = a.length
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      Some(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
  }
  def cosineCol(a: Column, b: Column): Column = cosineU(a, b)

  /** Embedding near-dup pairs: random-hyperplane sign-bucket LSH (seeded,
    * deterministic planes), exact cosine verify within buckets.
    *
    * Scale knobs: `planes` must grow with the corpus (buckets ≈ 2^planes;
    * size a bucket to ~10³–10⁴ vectors — e.g. 10^10 vectors want ≥ 21
    * planes, not 8), and `maxBucket` drops degenerate buckets (all-zero or
    * boilerplate embeddings collapse onto one bucket) before the
    * within-bucket join can go quadratic. `embeddingDupPairsAuto` derives
    * `planes` from the corpus count; `corpusSize` (when known) makes a
    * hand-set geometry fail loudly instead of silently losing recall, and
    * the drop ledger reports the realized drop fraction.
    */
  def embeddingDupPairs(embeddings: DataFrame, dim: Int, planes: Int = 8,
      threshold: Double = 0.95, seed: Long = 42L, maxBucket: Int = 10000,
      corpusSize: Long = -1L): DataFrame = {
    Guard.warnIfUndersized("embeddingDupPairs", corpusSize,
      math.pow(2.0, planes), maxBucket)
    val bucketed = Par.widen(embeddings).withColumn("bucket",
      Similarity.signBucketCol(col("embedding"), dim, planes, seed))
    blockedPairs(bucketed, Seq("bucket"), "vec_id", Seq("embedding" -> "v"),
        maxBucket, "embeddingDupPairs")
      .filter(col("a") < col("b"))
      .withColumn("cosine", cosineCol(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** Corpus-aware embedding near-dup: counts the corpus once (a cheap
    * columnar count at any scale) and sizes `planes` so the expected
    * bucket stays well under `maxBucket` (Guard.autoPlanes) — the variant
    * to use when the corpus size is not known a priori.
    */
  def embeddingDupPairsAuto(embeddings: DataFrame, dim: Int,
      threshold: Double = 0.95, seed: Long = 42L, maxBucket: Int = 10000,
      targetBucket: Int = 0): DataFrame = {
    val n = embeddings.count()
    val target = if (targetBucket > 0) targetBucket else math.max(1, maxBucket / 8)
    val planes = Guard.autoPlanes(n, target)
    embeddingDupPairs(embeddings, dim, planes, threshold, seed, maxBucket, corpusSize = n)
  }

  // ---- dup-pair clustering (connected components) ---------------------------

  /** Large-star round (Kiveris et al., "Connected Components in MapReduce
    * and Beyond"): every node u links each STRICTLY LARGER neighbor to the
    * minimum of u's closed neighborhood. Expressed as groupBy-min + join —
    * no per-node neighbor list is ever materialized, so a hub node with
    * 10^8 dup partners costs a wide aggregation, not a driver-sized array.
    *
    * r07 shuffle economy: the symmetrized edges are repartitioned on `u`
    * ONCE; the groupBy-min and the join both consume that single exchange
    * (aggregate preserves hash(u) partitioning, so the join plans no
    * further exchange). Intermediate `distinct()`s are dropped — the
    * round-final distinct in smallStar restores set semantics, and
    * duplicate multiplicity is bounded (≤2× from symmetrize), so the edge
    * SET per round — and therefore the convergence fingerprint and the
    * final output — is unchanged. Exchanges per round: 7-8 → 3.
    */
  private def largeStar(e: DataFrame, p: Int): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .repartition(p, col("u"))
    val m = sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.where(col("v") > col("u")).join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
  }

  /** Small-star round: orient each edge toward its larger endpoint, then
    * every node links its smaller neighbors (and itself) to the minimum of
    * that set. Same single-exchange join+groupBy shape as largeStar; the
    * trailing distinct is the round's set-semantics barrier.
    */
  private def smallStar(e: DataFrame, p: Int): DataFrame = {
    val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .repartition(p, col("u"))
    val m = or.groupBy("u").agg(min("v").as("m")) // m <= every small neighbor <= u
    or.join(m, "u").select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v")).distinct()
  }

  /** Collapse verified dup PAIRS into components: one row per node that
    * appears in `pairs`, with `cluster_id` = the smallest doc id in its
    * connected component (the canonical representative a dedup pipeline
    * keeps). Alternating large-star/small-star contraction — the standard
    * O(log^2 n)-round MapReduce CC algorithm — so a 10^10-edge dup graph
    * converges in tens of rounds of pure shuffle work: per round two
    * groupBy-min aggregations and two joins, nothing collected, no
    * neighbor lists (degree skew lands in a partial-aggregated min, not a
    * collect_list). Driver state per round is one (count, hash) fingerprint
    * pair used for convergence detection; `maxIter` is a hard rail far
    * above the theoretical bound for any real corpus.
    *
    * Input: first two columns are the pair endpoints (any numeric type;
    * cast to long). Singleton documents never appear in `pairs` and so are
    * their own implicit clusters — callers wanting a total mapping
    * left-join this result to the corpus and coalesce to doc_id.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val defaultP = spark.sessionState.conf.numShufflePartitions
    val Seq(ca, cb) = pairs.columns.take(2).toSeq
    val base = pairs.select(col(ca).cast("long").as("u"), col(cb).cast("long").as("v"))
      .where(col("u") =!= col("v"))

    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor is order-independent and cannot overflow (sum would, under
      // ANSI arithmetic); equal (count, xor-of-hashes) pairs identify equal
      // edge SETS up to a 2^-64 collision
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // each round's edge set is localCheckpoint'ed, not persist'ed: an
    // iterative frame built on a cached parent NESTS the parent's plan
    // (InMemoryRelation.innerChildren), so plan trees — and every
    // plan-description walk — grow multiplicatively with rounds; the
    // checkpoint truncates lineage to a LogicalRDD leaf, keeping plan
    // depth O(1) across iterations (same pattern as the crawler's
    // seen-chain). LAZY checkpoint (r07): the fingerprint aggregation is
    // the single materializing pass — one job per round instead of an
    // eager-checkpoint job plus a fingerprint job. Superseded rounds'
    // blocks are reclaimed by the ContextCleaner; round count is tiny
    // (O(log^2 n)).
    var edges = base.distinct().localCheckpoint(false)
    var fp = fingerprint(edges)
    // the first checkpointed frame doubles as the node universe (same
    // endpoint set as the raw pairs) — deriving nodes from it keeps the
    // final output join's lineage at the LogicalRDD leaf instead of
    // re-running the whole upstream pair pipeline (the old persist() was
    // released before the result was ever materialized, so the node side
    // recomputed from scratch on every action)
    val nodes = edges.select("u")
      .union(edges.select(col("v").as("u"))).distinct()
    var iter = 0
    var converged = fp._1 == 0L
    while (!converged && iter < maxIter) {
      // scale-adaptive round width (guide §2): the star rounds shuffle
      // |edges| rows known exactly from the fingerprint count — size the
      // round's exchanges from it instead of paying defaultP near-empty
      // tasks per stage on a small graph (clusters shrink geometrically,
      // so late rounds are always small even when round 0 is not)
      val p = math.max(1L, math.min(defaultP.toLong, fp._1 / 500000L + 1L)).toInt
      val next = smallStar(largeStar(edges, p), p).localCheckpoint(false)
      val nfp = fingerprint(next)
      edges = next
      converged = nfp == fp // fixpoint: both rounds changed nothing
      fp = nfp
      iter += 1
    }
    require(converged, s"dupClusters did not converge in $maxIter rounds " +
      "(theoretical bound is O(log^2 n); raise maxIter only after checking the input)")
    // at the fixpoint the edge set is a star per component, rooted at the
    // component min: non-roots carry exactly (node -> root); roots carry no
    // out-edge and map to themselves
    nodes.join(edges, Seq("u"), "left")
      .select(col("u").as("doc_id"),
        coalesce(col("v"), col("u")).as("cluster_id"))
  }
}
