package graft

import graft.ops._
import org.apache.spark.sql.functions._

/** Training-data pipeline operators: dedup family, similarity search, text
  * analysis, multimodal plumbing — invariants + driver-side replicas over
  * the sf0.001 testdata and synthesized fixtures.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  test("exact dedup: identical texts collapse to min doc_id") {
    val withDups = docs.select($"doc_id", $"text")
      .union(docs.select($"doc_id" + 100000, $"text")) // exact text dups
    val groups = Dedup.exactGroups(withDups).collect()
    assert(groups.forall(_.getLong(2) >= 2)) // every text now has >= 2 copies
    val kept = Dedup.exactDedup(withDups)
    assert(kept.count() == docs.count())
    assert(kept.agg(max($"doc_id")).head().getLong(0) < 100000) // min wins
  }

  test("shingles: n-1 w-shingles in order; short docs fall back to whole text") {
    val got = Seq(("a b c d", 1)).toDF("text", "x")
      .select(Dedup.shingleCol($"text", 3).as("sh")).head().getSeq[String](0)
    assert(got == Seq("a b c", "b c d"))
    val short = Seq(("ab", 1)).toDF("text", "x")
      .select(Dedup.shingleCol($"text", 3).as("sh")).head().getSeq[String](0)
    assert(short == Seq("ab"))
  }

  test("minhash: identical docs share signatures; LSH finds planted near-dups") {
    val base = docs.limit(50).select($"doc_id", $"text")
    val planted = base.select(($"doc_id" + 100000).as("doc_id"), $"text") // exact copies
    val all = base.union(planted)
    val pairs = Dedup.minhashDupPairs(all, k = 8, bands = 4, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted copy must be found as a (i, i+100000) pair
    val wanted = base.select("doc_id").as[Long].collect()
      .map(i => (i, i + 100000)).toSet
    assert(wanted.subsetOf(pairs), s"missing ${wanted -- pairs}")
  }

  test("ngram jaccard: exact inverted-index pairs match brute force on a sample") {
    val sample = docs.limit(40).select($"doc_id", $"text")
    val got = Dedup.ngramJaccardPairs(sample, shingleW = 2, threshold = 0.2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // brute force replica
    val local = sample.as[(Long, String)].collect()
    def shingles(t: String) = t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val want = (for {
      (a, ta) <- local; (b, tb) <- local if a < b
      sa = shingles(ta); sb = shingles(tb)
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= 0.2
    } yield ((a, b), j)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12) }
  }

  test("simhash: identical text → hamming 0; blocked pairs find planted dups") {
    val s1 = Dedup.simhash(Seq("a", "b", "c"))
    assert(s1 == Dedup.simhash(Seq("a", "b", "c")))
    val base = docs.limit(30).select($"doc_id", $"text")
    val all = base.union(base.select(($"doc_id" + 100000).as("doc_id"), $"text"))
    val pairs = Dedup.simhashDupPairs(all, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wanted = base.select("doc_id").as[Long].collect().map(i => (i, i + 100000)).toSet
    assert(wanted.subsetOf(pairs))
  }

  test("simhash portable sigs: Spark SQL formula matches a driver-side replica") {
    val sample = docs.limit(30).select($"doc_id", $"text")
    val got = Dedup.simhashPortableSigs(sample).as[(Long, Long)].collect().toMap
    val local = sample.as[(Long, String)].collect()
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    local.foreach { case (id, text) =>
      val acc = new Array[Long](60)
      text.split(" ", -1).foreach { t =>
        val h = java.lang.Long.parseLong(md5hex(t).take(15), 16)
        (0 until 60).foreach(i => acc(i) += ((h >>> i) & 1L) * 2 - 1)
      }
      val want = (0 until 60).map(i => if (acc(i) > 0) 1L << i else 0L).sum
      assert(got(id) == want, s"doc $id")
    }
  }

  test("skew guard: 1k identical docs do not produce a quadratic bucket join") {
    // 1000 copies of one text land in ONE (band|block|bucket) everywhere;
    // without the maxBucket guard each of these would emit ~500k pairs
    val skewed = spark.range(1000)
      .select($"id".as("doc_id"), lit("the same boilerplate text again").as("text"))
    val lsh = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(skewed, k = 8, shingleW = 3), k = 8, bands = 4,
      maxBucket = 100)
    assert(lsh.count() == 0) // hot bucket dropped, not exploded
    val sim = Dedup.simhashDupPairs(skewed, maxHamming = 3, maxBucket = 100)
    assert(sim.count() == 0)
    val skewedEmb = spark.range(1000).select($"id".as("vec_id"),
      array((0 until 64).map(i => lit(math.sin(i * 0.1).toFloat)): _*).as("embedding"))
    assert(Dedup.embeddingDupPairs(skewedEmb, dim = 64, maxBucket = 100).count() == 0)
    assert(Similarity.bucketedNeighbors(skewedEmb, dim = 64, maxBucket = 100).count() == 0)
    // and with the guard above the population, everything is found
    val found = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(skewed.limit(50), k = 8, shingleW = 3), k = 8, bands = 4,
      maxBucket = 10000)
    assert(found.count() == 4L * (50L * 49 / 2)) // all 4 bands match per pair
  }

  test("cosine: self-similarity 1.0; brute-force top-k ordered and exact on sample") {
    val self = emb.limit(5)
      .select(Dedup.cosineCol($"embedding", $"embedding").as("c"))
      .as[Double].collect()
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-6))

    val q = (0 until 64).map(i => math.sin(i + 1.0))
    val top = Similarity.bruteForceTopK(emb, q, 5).collect()
    val scores = top.map(_.getAs[Double]("cosine"))
    assert(scores.sameElements(scores.sortBy(-(_: Double))))
    // replica on driver
    val local = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val qn = math.sqrt(q.map(x => x * x).sum)
    val want = local.map { case (id, v) =>
      val dot = v.zip(q).map { case (a, b) => a.toDouble * b }.sum
      val vn = math.sqrt(v.map(x => x.toDouble * x).sum)
      (id, dot / (vn * qn))
    }.sortBy { case (id, c) => (-c, id) }.take(5)
    assert(top.map(_.getAs[Long]("vec_id")).toSeq == want.map(_._1).toSeq)
  }

  test("LSH ANN: bucket probe returns a subset ranked like brute force") {
    val q = (0 until 64).map(i => math.sin(i + 1.0))
    val approx = Similarity.lshTopK(emb, q, 5, dim = 64).collect()
    assert(approx.nonEmpty)
    val scores = approx.map(_.getAs[Double]("cosine"))
    assert(scores.sameElements(scores.sortBy(-(_: Double))))
  }

  test("text ops: token counts, quality in [0,1], langid scripts, fingerprints stable") {
    val prof = TextOps.profile(docs.limit(100)).cache()
    val rows = prof.select($"text", $"n_tokens", $"quality", $"fingerprint").collect()
    rows.foreach { r =>
      val text = r.getString(0)
      assert(r.getInt(1) == text.split(" ", -1).length)
      val q = r.getDouble(2); assert(q >= 0.0 && q <= 1.0)
    }
    // deterministic fingerprints
    val fp2 = TextOps.profile(docs.limit(100)).select("fingerprint").collect()
    assert(rows.map(_.getString(3)).sameElements(fp2.map(_.getString(0))))
    assert(TextOps.langIdScala("안녕하세요 게임") == "ko")
    assert(TextOps.langIdScala("the game of the year") == "en")
    assert(TextOps.langIdScala("der und die das") == "de")
    assert(TextOps.langIdScala("xyzzy") == "und")
  }

  test("PII redaction ladder: emails, dotted quads, long digit runs") {
    val in = Seq(
      "write to bob.smith+x@mail.example.com or 10.20.30.40 id 1234567890 done",
      "no pii here 123",
      "a@b.io").toDF("text")
    val got = in.select(Corpus.redactPiiCol($"text").as("r")).as[String].collect().toSeq
    assert(got == Seq(
      "write to [EMAIL] or [IP] id [NUM] done",
      "no pii here 123",
      "[EMAIL]"))
  }

  test("stratified sample: deterministic across partitioning, fractions honored") {
    val base = docs.select($"doc_id", $"lang")
    val frac = Map("en" -> 0.5, "de" -> 0.25)
    val a = Corpus.stratifiedSample(base, "lang", "doc_id", frac, 0.1)
      .select("doc_id").as[Long].collect().toSet
    val b = Corpus.stratifiedSample(base.repartition(7), "lang", "doc_id", frac, 0.1)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "sample must not depend on partitioning")
    // fractions within loose binomial tolerance at sf0.001 sizes
    val perLang = base.groupBy("lang").count().as[(String, Long)].collect().toMap
    val keptEn = Corpus.stratifiedSample(base, "lang", "doc_id", frac, 0.1)
      .filter($"lang" === "en").count().toDouble
    val n = perLang.getOrElse("en", 0L).toDouble
    assert(n == 0 || math.abs(keptEn / n - 0.5) < 0.25, s"en kept ${keptEn / n}")
  }

  test("sequence packing: matches sequential replica, partitioning-independent") {
    val base = docs.select($"doc_id",
      TextOps.tokenCountCol($"text").cast("long").as("n_tokens"))
    val got = Corpus.packSequences(base, 512L, "doc_id", "n_tokens")
      .select("doc_id", "n_tokens", "seq_id").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toVector
    // driver-side sequential replica: exclusive prefix sum div capacity
    val local = base.as[(Long, Long)].collect().sortBy(_._1).toVector
    var prefix = 0L
    val want = local.map { case (id, t) =>
      val bin = prefix / 512L; prefix += t; (id, t, bin)
    }
    assert(got == want)
    val got13 = Corpus.packSequences(base.repartition(13), 512L, "doc_id", "n_tokens")
      .select("doc_id", "n_tokens", "seq_id").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toVector
    assert(got13 == want, "packing must not depend on input partitioning")
    assert(want.map(_._3).distinct.size > 1, "test vacuous: everything in one bin")
    // null token counts bin as 0 tokens (must not null-poison a partition)
    val withNulls = base.withColumn("n_tokens",
      when($"doc_id" % 7 === 0, lit(null)).otherwise($"n_tokens"))
    val gotN = Corpus.packSequences(withNulls, 512L, "doc_id", "n_tokens")
      .select("doc_id", "seq_id").as[(Long, Long)].collect().sortBy(_._1).toVector
    var prefixN = 0L
    val wantN = local.map { case (id, t) =>
      val eff = if (id % 7 == 0) 0L else t
      val bin = prefixN / 512L; prefixN += eff; (id, bin)
    }
    assert(gotN == wantN)
  }

  test("IVF ANN: cell assignment pure-function parity; probe equals in-cell brute force") {
    val dim = 64
    val cs = Similarity.ivfCentroids(dim, 16, 42L)
    val cells = emb.select($"vec_id", Similarity.ivfCellCol($"embedding", dim, 16, 42L).as("cell"))
      .as[(Long, Int)].collect().toMap
    val local = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    local.foreach { case (id, v) =>
      assert(cells(id) == Similarity.ivfCellOf(v, cs), s"cell mismatch vec $id")
    }
    val path = tempDir("graft-ivf") + "/emb"
    Similarity.writeIvfIndex(emb, path, dim)
    val q = (0 until dim).map(i => math.cos(i + 1.0))
    val got = Similarity.ivfTopK(spark, path, q, 5, dim)
      .select("vec_id").as[Long].collect().toSeq
    // replica: exact cosine ranking restricted to the probed cells
    val probe = Similarity.ivfProbeCells(q, dim, 16, 4, 42L).toSet
    val qn = math.sqrt(q.map(x => x * x).sum)
    val want = local.filter { case (id, _) => probe(cells(id)) }
      .map { case (id, v) =>
        val dot = v.zip(q).map { case (a, b) => a * b }.sum
        val vn = math.sqrt(v.map(x => x.toDouble * x).sum)
        (id, dot / (vn * qn))
      }.sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSeq
    assert(got == want)
  }

  test("multimodal: real PPM/WAV decode round-trips; media table decodes actual bytes") {
    // PPM round-trip: deterministic encoder → parser recovers the header
    // dims and full raster
    val ppm = Multimodal.ppmBytes("http://cdn.example/img42.jpg")
    val (w, h, px) = Multimodal.decodePpm(ppm)
    assert(w >= 8 && w < 32 && h >= 6 && h < 24 && px.length == w * h * 3)
    // header tolerance: comments and extra whitespace are legal PPM
    val commented = "P6\n# a comment\n 2  1\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ Array.fill[Byte](6)(7)
    assert(Multimodal.decodePpm(commented) ._1 == 2)
    intercept[IllegalArgumentException] { Multimodal.decodePpm("P5\n1 1\n255\n0".getBytes) }

    // WAV round-trip: RIFF/PCM16 mono parsed back to rate + samples
    val wav = Multimodal.wavBytes("http://cdn.example/clip.mp3")
    val (rate, samples) = Multimodal.decodeWav(wav)
    assert(rate == 8000 && samples.length >= 64 && samples.length < 256)
    val audioFeat = Multimodal.decode(
      MediaAsset("http://cdn.example/clip.mp3", "d", "audio", wav))
    assert(audioFeat.format == "wav" && audioFeat.width == 8000 &&
      audioFeat.height == samples.length &&
      audioFeat.feature.length == 16 && audioFeat.feature.forall(v => v >= 0f && v <= 1f))

    // pipeline: media table from spans (fixture refs mix .jpg/.wav/.y4m),
    // features come from REAL decodes of the PPM/WAV/Y4M bytes
    val fixtureDocs = (0 until 100).flatMap { i =>
      val canon = graft.core.UrlCanon.canonicalize(
        graft.fixtures.Fixtures.cleanUrl(graft.fixtures.Fixtures.Hosts(i % 12), i % 4, i))
      graft.parse.PageParser.parse(graft.fixtures.Fixtures.html(canon), canon)
        .map(p => (canon, p.spans))
    }
    val docsDF = spark.createDataset(fixtureDocs).toDF("doc_id", "spans")
    val media = Multimodal.mediaTable(spark, docsDF).cache()
    val nMediaSpans = docsDF
      .select(explode(expr("filter(spans, s -> s.kind = 'media')"))).count()
    assert(media.count() == nMediaSpans && nMediaSpans > 0)
    // the fixture mix must actually exercise all three decode paths
    val kinds = media.select("kind").distinct().as[String].collect().toSet
    assert(Set("image", "audio", "video").subsetOf(kinds), s"fixture kinds: $kinds")
    val feats = Multimodal.extractFeatures(spark, media, partitions = 4).cache()
    assert(feats.count() == media.count())
    val f = feats.filter(col("kind") === "image").head()
    assert(f.format == "ppm" && f.width >= 8 && f.width < 32 && f.n_frames == 1)
    assert(f.feature.length == 16 && f.feature.forall(v => v >= 0f && v <= 1f))
    // dims must MATCH the asset bytes, not a hash of the id (proof the
    // decode actually reads the raster)
    val oneAsset = media.filter(col("media_id") === f.media_id).head()
    val (pw, ph, _) = Multimodal.decodePpm(oneAsset.bytes)
    assert(f.width == pw && f.height == ph)
    // video rows: n_frames counted from the stream's FRAME markers
    val vf = feats.filter(col("kind") === "video").head()
    val vAsset = media.filter(col("media_id") === vf.media_id).head()
    val (vw, vh, vFrames) = Multimodal.decodeY4m(vAsset.bytes)
    assert(vf.format == "y4m" && vf.width == vw && vf.height == vh &&
      vf.n_frames == vFrames.length && vf.n_frames >= 4)
    assert(vf.feature.length == 16 && vf.feature.forall(v => v >= 0f && v <= 1f))
    // deterministic across partitioning
    val feats2 = Multimodal.extractFeatures(spark, media, partitions = 2)
    assert(feats2.orderBy("media_id", "doc_id").collect().toSeq ==
      feats.orderBy("media_id", "doc_id").collect().toSeq)

    // frame sampling over REAL decoded frames: sampleFrames' indices line
    // up with the bytes' frame count, and sampleFrameFeatures materializes
    // per-frame stats equal to a driver-side decode of the same frame
    val featsDF = feats.toDF()
    val idx = Multimodal.sampleFrames(featsDF, stride = 7)
      .filter(col("media_id") === vf.media_id)
      .select("frame_idx").as[Int].collect().toSeq.sorted
    assert(idx == (0 until vf.n_frames by 7).toSeq)
    val ff = Multimodal.sampleFrameFeatures(spark, media, stride = 7, partitions = 2)
      .filter(col("media_id") === vf.media_id)
      .orderBy("frame_idx")
      .select("frame_idx", "mean_y").as[(Int, Float)].collect().toSeq
    assert(ff.map(_._1) == idx)
    val fr0 = vFrames(0)
    val wantMeanY = (fr0.y.map(_ & 0xff).map(_.toLong).sum.toDouble /
      (255.0 * fr0.y.length)).toFloat
    assert(ff.head._2 == wantMeanY)
  }

  test("y4m decode: round-trip, header tolerance, malformed streams fail loudly") {
    val y4m = Multimodal.y4mBytes("http://cdn.example/clip.y4m")
    val (w, h, frames) = Multimodal.decodeY4m(y4m)
    assert(w % 2 == 0 && h % 2 == 0 && frames.length >= 4)
    assert(frames.forall(f => f.y.length == w * h && f.u.length == w * h / 4
      && f.v.length == w * h / 4))
    // decode() features come from the planes
    val feat = Multimodal.decode(MediaAsset("http://cdn.example/clip.y4m", "d", "video", y4m))
    assert(feat.format == "y4m" && feat.n_frames == frames.length)
    val wantMeanY = (frames.flatMap(_.y).map(_ & 0xff).map(_.toLong).sum.toDouble /
      (255.0 * w * h * frames.length)).toFloat
    assert(feat.feature(0) == wantMeanY)
    // header tolerance: parameter order and extra params are legal; frame
    // params after FRAME are skipped
    val tiny = ("YUV4MPEG2 C420 H2 W2 F30:1 Xsome\nFRAME Iextra\n" + " " * 6)
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val (tw, th, tf) = Multimodal.decodeY4m(tiny)
    assert(tw == 2 && th == 2 && tf.length == 1)
    // malformed: bad magic, odd dims, truncated planes, bad frame marker
    intercept[IllegalArgumentException] { Multimodal.decodeY4m("JUNK\n".getBytes) }
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4m("YUV4MPEG2 W3 H2\nFRAME\n      "
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4m("YUV4MPEG2 W2 H2\nFRAME\n  "
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4m(("YUV4MPEG2 W2 H2\nFRUME\n" + " " * 6)
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    // malformed WAV chunk sizes fail loudly instead of looping/skipping
    val wav = Multimodal.wavBytes("http://cdn.example/clip.wav")
    val evil = wav.clone()
    val bb = java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(16, -8) // fmt chunk size → negative: would loop forever unchecked
    intercept[IllegalArgumentException] { Multimodal.decodeWav(evil) }
    val evil2 = wav.clone()
    java.nio.ByteBuffer.wrap(evil2).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(16, Int.MaxValue - 4) // huge chunk: would skip past the data chunk
    intercept[IllegalArgumentException] { Multimodal.decodeWav(evil2) }
    // a 14-byte fmt chunk (bits-per-sample cut off), followed by an empty
    // chunk whose id starts with the bytes 16, 0: an unchecked decoder
    // reads that id as 16 bits per sample and accepts the file
    val short = java.nio.ByteBuffer.allocate(wav.length + 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    short.put(wav, 0, 16).putInt(14).put(wav, 20, 14)
      .putShort(16).put("xx".getBytes("US-ASCII")).putInt(0)
      .put(wav, 36, wav.length - 36).putInt(4, wav.length + 6 - 8)
    intercept[IllegalArgumentException] { Multimodal.decodeWav(short.array()) }
    // opaque payloads: byte-histogram features from the actual bytes
    val blob = Array.tabulate[Byte](64)(i => (i * 4).toByte) // 4 bytes per nibble bin
    val bf = Multimodal.decode(MediaAsset("x.bin", "d", "binary", blob))
    assert(bf.format == "binary" && bf.width == 64 && bf.feature.length == 16 &&
      bf.feature.forall(_ == 4f / 64f))
  }

  private val ledgerTags = new java.util.concurrent.atomic.AtomicInteger()

  /** Runs `body` under a fresh query tag, waits for the listener bus, drains
    * the drop ledger and returns the body's value with that tag's records.
    */
  def ledgerOf[A](body: => A): (A, Seq[Guard.DropRecord]) = {
    val tag = s"ops-ledger-${ledgerTags.incrementAndGet()}"
    val out = Guard.withQueryTag(tag)(body)
    org.apache.spark.GraftBridge.drainListeners(spark.sparkContext)
    (out, Guard.drainDropLedgerDetailed().filter(_.queryTag == tag))
  }

  // same skew fixture as the skew-guard test: every row lands in ONE
  // bucket everywhere, so an undersized cap drops 100% of candidate rows
  lazy val skewedDocs = spark.range(1000)
    .select($"id".as("doc_id"), lit("the same boilerplate text again").as("text"))
  lazy val skewedEmb = spark.range(1000).select($"id".as("vec_id"),
    array((0 until 64).map(i => lit(math.sin(i * 0.1).toFloat)): _*).as("embedding"))
  // hub-shingle cap: 40 real docs, maxDf=1 drops every shared shingle
  lazy val hubSample = docs.limit(40).select($"doc_id", $"text").cache()

  /** The five overflow runs, each with its result row count and ledger. */
  lazy val overflowRuns: Map[String, (Long, Seq[Guard.DropRecord])] = Map(
    "simhash" -> ledgerOf(Dedup.simhashDupPairs(skewedDocs, maxHamming = 3,
      maxBucket = 100).count()),
    "lsh" -> ledgerOf(Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(skewedDocs, k = 8, shingleW = 3), k = 8, bands = 4,
      maxBucket = 100).count()),
    "embedding" -> ledgerOf(Dedup.embeddingDupPairs(skewedEmb, dim = 64,
      maxBucket = 100).count()),
    "neighbors" -> ledgerOf(Similarity.bucketedNeighbors(skewedEmb, dim = 64,
      maxBucket = 100).count()),
    "ngram_hub" -> ledgerOf(Dedup.ngramJaccardPairs(hubSample, shingleW = 2,
      threshold = 0.2, maxDf = 1).count()))

  test("guard observation: drop metrics fire on an overflow corpus, zero on a safe one") {
    def only(name: String): Guard.DropRecord = {
      val recs = overflowRuns(name)._2
      assert(recs.size == 1, s"$name: $recs")
      recs.head
    }
    for (name <- Seq("simhash", "lsh", "embedding", "neighbors")) {
      assert(overflowRuns(name)._1 == 0L, name)
      assert(only(name).fraction >= 0.99, s"$name fraction=${only(name).fraction}")
    }
    assert(only("simhash").droppedRows > 0 && only("simhash").droppedBuckets > 0)
    assert(only("ngram_hub").droppedRows > 0 && only("ngram_hub").fraction > 0.0)

    // healthy run: guard present but never fires → metrics all zero drops
    val (_, ok) = ledgerOf(Dedup.simhashDupPairs(docs.limit(30).select($"doc_id", $"text"),
      maxHamming = 0).count())
    assert(ok.size == 1 && ok.head.fraction == 0.0 && ok.head.droppedRows == 0L, s"$ok")
    assert(ok.head.totalRows > 0)

    // capless run: no guard in the plan → nothing recorded under its tag
    val (_, capless) = ledgerOf(Dedup.ngramJaccardPairs(hubSample, shingleW = 2,
      threshold = 0.5, maxDf = Int.MaxValue).count())
    assert(capless.isEmpty, s"$capless")
  }

  test("guard ledger: all-dropped runs record exact row and bucket counts; empty input reads 0.0") {
    def exact(name: String, rows: Long, buckets: Long, droppedRows: Long,
        droppedBuckets: Long): Unit = {
      val recs = overflowRuns(name)._2
      assert(recs.map(r => (r.totalRows, r.droppedRows, r.buckets, r.droppedBuckets)) ==
        Seq((rows, droppedRows, buckets, droppedBuckets)), name)
    }
    // 1000 identical docs: 4 SimHash blocks / 4 LSH bands of 1000 rows each,
    // one sign bucket of 1000 vectors — every bucket over the cap of 100
    exact("simhash", 4000, 4, 4000, 4)
    exact("lsh", 4000, 4, 4000, 4)
    exact("embedding", 1000, 1, 1000, 1)
    exact("neighbors", 1000, 1, 1000, 1)
    Seq("simhash", "lsh", "embedding", "neighbors").foreach(n =>
      assert(overflowRuns(n)._2.head.fraction == 1.0, n))
    // the hub cap: every shingle shared by two or more docs is dropped
    val df = hubSample.select(array_distinct(Dedup.shingleCol($"text", 2)))
      .collect().toSeq.flatMap(_.getSeq[String](0)).groupBy(identity).map(_._2.size).toSeq
    assert(df.exists(_ > 1) && df.contains(1), "test vacuous: hub corpus")
    exact("ngram_hub", df.sum, df.size, df.filter(_ > 1).sum, df.count(_ > 1))

    // an empty input is told apart from a collapse: a record, 0 rows, 0.0
    val (n, empty) = ledgerOf(Dedup.simhashDupPairs(skewedDocs.filter(lit(false)),
      maxHamming = 3, maxBucket = 100).count())
    assert(n == 0L)
    assert(empty.map(r => (r.totalRows, r.fraction)) == Seq((0L, 0.0)), s"$empty")

    // the pruned run is recounted by the drain on the calling thread: the
    // listener runs no job of its own
    val sc = spark.sparkContext
    val foreignJobs = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (!Option(e.properties).exists(_.getProperty("graft.test.tag") == "ledger-caller"))
          foreignJobs.incrementAndGet()
    }
    sc.addSparkListener(jobs)
    sc.setLocalProperty("graft.test.tag", "ledger-caller")
    try {
      val (_, recs) = ledgerOf(Dedup.simhashDupPairs(skewedDocs, maxHamming = 3,
        maxBucket = 100).count())
      org.apache.spark.GraftBridge.drainListeners(sc)
      assert(foreignJobs.get == 0, "a job ran off the calling thread")
      assert(recs.map(_.droppedRows) == Seq(4000L))
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(jobs)
    }
  }

  test("blocked-pair operators equal an in-memory brute force minus over-cap buckets") {
    val rnd = new scala.util.Random(11)
    def buckets[K](keys: Seq[(Long, Seq[K])]): Map[K, Seq[Long]] =
      keys.flatMap { case (id, ks) => ks.distinct.map(_ -> id) }.groupMap(_._1)(_._2)
    def bucketSizes[K](keys: Seq[(Long, Seq[K])]): Seq[Int] = buckets(keys).values.map(_.size).toSeq
    // (bucket, a, b) for every pair a < b sharing a bucket of at most `cap` ids
    def sharedPairs[K](keys: Seq[(Long, Seq[K])], cap: Int): Set[(K, Long, Long)] =
      buckets(keys).toSeq.flatMap { case (k, ids) =>
        if (ids.size > cap) Nil else for (a <- ids; b <- ids if a < b) yield (k, a, b)
      }.toSet
    // capped: pairs and drop counts match the brute force (the corpus has
    // a bucket over the cap and one exactly at it); capless: the brute
    // force over every bucket, and nothing recorded in the drop ledger
    def check[K, R](name: String, keys: Seq[(Long, Seq[K])], cap: Int,
        expected: Int => Set[R], run: Int => Set[R]): Unit = {
      val sizes = bucketSizes(keys)
      assert(sizes.exists(_ > cap) && sizes.contains(cap), s"$name corpus")
      val (got, capped) = ledgerOf(run(cap))
      assert(got == expected(cap), name)
      assert(capped.map(_.droppedBuckets) == Seq(sizes.count(_ > cap).toLong), s"$name $capped")
      assert(capped.map(_.droppedRows) == Seq(sizes.filter(_ > cap).sum.toLong), name)
      val (all, capless) = ledgerOf(run(Int.MaxValue))
      assert(all == expected(Int.MaxValue) && all != got, s"$name capless")
      assert(capless.isEmpty, s"$name capless $capless")
    }

    // MinHash-LSH over hand-made signatures: k = bands = 2, so the band
    // key is md5 of one signature value; 14 docs share one band-0 value
    // and 8 (the cap) another
    val sigRows = (0 until 40).map(i =>
      (i.toLong, if (i < 14) "hot" else if (i < 22) "edge" else s"c${i % 5}", s"d${i % 9}"))
    val lshKeys = sigRows.map { case (id, m0, m1) => id -> Seq((0, m0), (1, m1)) }
    check[(Int, String), (Int, Long, Long)]("lsh", lshKeys, 8,
      cap => sharedPairs(lshKeys, cap).map { case ((band, _), a, b) => (band, a, b) },
      cap => Dedup.lshCandidatePairs(sigRows.toDF("doc_id", "mh_0", "mh_1"),
          k = 2, bands = 2, maxBucket = cap)
        .as[(Int, Long, Long)].collect().toSet)

    // SimHash: near-dup families, plus 16 signatures whose block 0 is all
    // zero and 10 (the cap) whose block 1 is, paired so each pair differs
    // by one bit in every other block — such a pair shares only that bucket
    def flip(s: (Long, Long), bit: Int) =
      if (bit < 64) (s._1, s._2 ^ (1L << bit)) else (s._1 ^ (1L << (bit - 64)), s._2)
    def mask(w: Int) = if (w == 64) -1L else (1L << w) - 1
    def sigCorpus(bits: Int): Seq[(Long, Long, Long)] = { // (doc_id, hi, lo)
      val w = bits / 4
      def rand() = (if (bits > 64) rnd.nextLong() else 0L, rnd.nextLong())
      val fams = (0 until 8).flatMap { _ =>
        val base = rand()
        (0 until 4).map(m => (0 until m).foldLeft(base)((s, _) => flip(s, rnd.nextInt(bits))))
      }
      def zeroBlock(nPairs: Int, z: Int) = (0 until nPairs).flatMap { _ =>
        val (h, l) = rand()
        val base = (h, l & ~(mask(w) << (z * w)))
        Seq(base, (0 until 4).filter(_ != z)
          .foldLeft(base)((s, q) => flip(s, q * w + rnd.nextInt(w))))
      }
      (fams ++ zeroBlock(8, 0) ++ zeroBlock(5, 1)).zipWithIndex
        .map { case ((h, l), i) => (i.toLong, h, l) }
    }
    def simhashCase(bits: Int): Unit = {
      val corpus = sigCorpus(bits)
      val w = bits / 4
      val keys = corpus.map { case (id, h, l) => id -> (0 until 4).map { q =>
        val s = q * w
        (q, if (s >= 64) (h >>> (s - 64)) & mask(w) else (l >>> s) & mask(w))
      } }
      val sig = corpus.map { case (id, h, l) => id -> (h, l) }.toMap
      def ham(a: Long, b: Long) = java.lang.Long.bitCount(sig(a)._1 ^ sig(b)._1) +
        java.lang.Long.bitCount(sig(a)._2 ^ sig(b)._2)
      val sigs = if (bits == 64) corpus.map(r => (r._1, r._3)).toDF("doc_id", "sig")
        else corpus.toDF("doc_id", "sig_hi", "sig_lo")
      check[(Int, Long), (Long, Long, Int)](s"simhash$bits", keys, 10,
        cap => sharedPairs(keys, cap).map { case (_, a, b) => (a, b, ham(a, b)) }
          .filter(_._3 <= 3),
        cap => (if (bits == 64)
            Dedup.simhashDupPairs(sigs, maxHamming = 3, maxBucket = cap,
              signatures = identity)
          else Dedup.simhashDupPairs128(sigs, maxHamming = 3, maxBucket = cap,
              signatures = identity))
          .as[(Long, Long, Int)].collect().toSet)
    }
    simhashCase(64)
    simhashCase(128)

    // embeddings: a 20-vector hot cluster plus six 3-vector clusters, over
    // 3 sign planes (8 buckets); the cap is the second-largest bucket
    val dim = 8
    val planes = Similarity.planes(dim, 3, 42L)
    def noisy(c: Array[Float], eps: Double) = c.map(x => (x + eps * rnd.nextGaussian()).toFloat)
    def center() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val hotC = center()
    val vecs = ((0 until 20).map(_ => noisy(hotC, 0.05)) ++
      (0 until 6).flatMap { _ => val c = center(); (0 until 3).map(_ => noisy(c, 0.15)) })
      .zipWithIndex.map { case (v, i) => i.toLong -> v.toSeq }
    val vec = vecs.toMap
    val embKeys = vecs.map { case (id, v) => id -> Seq(planes.indices.foldLeft(0) { (acc, p) =>
      val dot = v.indices.map(i => v(i) * planes(p)(i)).sum
      if (dot > 0) acc | (1 << p) else acc
    }) }
    def cos(a: Long, b: Long): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      vec(a).indices.foreach { i =>
        val x = vec(a)(i).toDouble; val y = vec(b)(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val embDf = vecs.toDF("vec_id", "embedding")
    val embCap = bucketSizes(embKeys).sorted.reverse(1)
    check[Int, (Long, Long, Double)]("embedding", embKeys, embCap,
      cap => sharedPairs(embKeys, cap).map { case (_, a, b) => (a, b, cos(a, b)) }
        .filter(_._3 >= 0.9),
      cap => Dedup.embeddingDupPairs(embDf, dim, planes = 3, threshold = 0.9,
          maxBucket = cap)
        .as[(Long, Long, Double)].collect().toSet)
    check[Int, (Long, Long, Double)]("neighbors", embKeys, embCap,
      cap => sharedPairs(embKeys, cap).toSeq
        .flatMap { case (_, a, b) => Seq((a, b), (b, a)) }
        .groupBy(_._1).toSeq.flatMap { case (a, mates) =>
          mates.map { case (_, b) => (a, b, round6(cos(a, b))) }
            .sortBy { case (_, b, c) => (-c, b) }.take(2)
        }.toSet,
      cap => Similarity.bucketedNeighbors(embDf, dim, k = 2, nPlanes = 3,
          maxBucket = cap)
        .as[(Long, Long, Double)].collect().toSet)
  }

  test("guard telemetry is default-on: drop ledger records a lossy run with NO caller opt-in") {
    Guard.drainDropLedger() // clear anything earlier tests left behind
    // partial-drop corpus: one hub shingle shared by ALL docs (df=40,
    // over the cap → dropped) plus per-pair group shingles under the cap —
    // the result stays NON-empty, so AQE does not prune the metrics node
    // (an all-dropped empty result is recounted by the drain instead; see
    // the all-dropped ledger test)
    val hubDocs = spark.range(40).select(
      $"id".cast("string").as("doc_id"),
      concat(lit("hub hub w"), ($"id" / 2).cast("long").cast("string"),
        lit("a w"), ($"id" / 2).cast("long").cast("string"),
        lit("b end")).as("text"))
    assert(Dedup.ngramJaccardPairs(hubDocs, shingleW = 2, threshold = 0.3,
      maxDf = 10).count() > 0)
    // the QueryExecutionListener bus is async
    val deadline = System.currentTimeMillis() + 15000
    var drops = Map.empty[String, Double]
    while (!drops.contains("ngramJaccardPairs") && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      drops = drops ++ Guard.drainDropLedger()
    }
    assert(drops.contains("ngramJaccardPairs"),
      s"default-on guard telemetry never reached the ledger: $drops")
    assert(drops("ngramJaccardPairs") > 0.0)

    // healthy default run records a zero-drop entry (telemetry on, no loss)
    assert(Dedup.ngramJaccardPairs(hubDocs, shingleW = 2, threshold = 0.3,
      maxDf = 1000).count() > 0)
    val deadline2 = System.currentTimeMillis() + 15000
    var drops2 = Map.empty[String, Double]
    while (!drops2.contains("ngramJaccardPairs") && System.currentTimeMillis() < deadline2) {
      Thread.sleep(200)
      drops2 = drops2 ++ Guard.drainDropLedger()
    }
    assert(drops2.get("ngramJaccardPairs").contains(0.0), s"got $drops2")
  }

  test("guard ledger: two same-label runs stay separate rows with their own query tags") {
    Guard.drainDropLedgerDetailed() // clear anything earlier tests left behind
    // run the SAME op twice under different query tags: once lossy
    // (maxDf=10 drops the df=40 hub shingle), once clean (maxDf=1000) —
    // worst-wins-per-label would let the lossy run mask the clean one (or
    // vice versa); per-observation rows + attach-time tags keep both
    val hubDocs = spark.range(40).select(
      $"id".cast("string").as("doc_id"),
      concat(lit("hub hub w"), ($"id" / 2).cast("long").cast("string"),
        lit("a w"), ($"id" / 2).cast("long").cast("string"),
        lit("b end")).as("text"))
    Guard.withQueryTag("qA_lossy") {
      assert(Dedup.ngramJaccardPairs(hubDocs, shingleW = 2, threshold = 0.3,
        maxDf = 10).count() > 0)
    }
    Guard.withQueryTag("qB_clean") {
      assert(Dedup.ngramJaccardPairs(hubDocs, shingleW = 2, threshold = 0.3,
        maxDf = 1000).count() > 0)
    }
    val deadline = System.currentTimeMillis() + 15000
    var recs = Seq.empty[Guard.DropRecord]
    def tags = recs.filter(_.label == "ngramJaccardPairs").map(_.queryTag).toSet
    while (!Set("qA_lossy", "qB_clean").subsetOf(tags) &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      recs = recs ++ Guard.drainDropLedgerDetailed()
    }
    val byTag = recs.filter(_.label == "ngramJaccardPairs")
      .groupBy(_.queryTag).map { case (t, rs) => t -> rs.map(_.fraction).max }
    assert(byTag.get("qA_lossy").exists(_ > 0.0), s"got $byTag")
    assert(byTag.get("qB_clean").contains(0.0), s"got $byTag")
    // the aggregate (alerting) view still reports the label's worst run
    Guard.withQueryTag("qC") {
      assert(Dedup.ngramJaccardPairs(hubDocs, shingleW = 2, threshold = 0.3,
        maxDf = 10).count() > 0)
    }
    Guard.awaitLedgerQuiescent()
    val agg = Guard.drainDropLedger()
    assert(agg.get("ngramJaccardPairs").exists(_ > 0.0), s"got $agg")
  }

  test("guard ledger: awaitLedgerQuiescent waits out a listener bus a slow listener holds up") {
    // the listener holds the bus at the query's first job end until 12 s
    // after the query returns, so the query's SQL-end event, which carries
    // its guard metrics, waits in the queue past the bus's own 10 s bound
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobs.incrementAndGet() == 1) gate.await()
    }
    org.apache.spark.GraftBridge.drainListeners(sc)
    sc.addSparkListener(slow)
    try {
      Guard.withQueryTag("slow-bus") {
        Dedup.simhashDupPairs(docs.limit(30).select($"doc_id", $"text"), maxHamming = 0).count()
      }
      val t0 = System.nanoTime()
      new Thread(() => { Thread.sleep(12000); gate.countDown() }).start()
      Guard.awaitLedgerQuiescent()
      val waited = (System.nanoTime() - t0) / 1e9
      val recs = Guard.drainDropLedgerDetailed().filter(_.queryTag == "slow-bus")
      assert(waited > 10, s"test vacuous: the bus lagged only $waited s")
      assert(recs.size == 1 && recs.head.totalRows > 0, s"$recs after ${jobs.get} jobs")
    } finally {
      gate.countDown()
      sc.removeSparkListener(slow)
    }
  }

  test("simhash128: lo limb equals the 64-bit signature; auto path keeps recall past the 64-bit ceiling") {
    // limb identity: bits 0-63 of the 128-bit signature vote on the SAME
    // primary FNV stream as the 64-bit operator, so lo == simhash(tokens)
    val toks = Seq("alpha", "beta", "gamma", "delta")
    val (hi, lo) = Dedup.simhash128(toks)
    assert(lo == Dedup.simhash(toks))
    assert(hi != lo) // second stream decorrelated from the first

    // geometry: 10^10 docs overflow the 64-bit block keyspace (2^16 at
    // maxHamming=3 → guaranteed collapse → throw) but sit comfortably in
    // the 128-bit one (2^32 per block → average bucket ≈ 2.3)
    val sample = docs.limit(10).select($"doc_id", $"text")
    intercept[IllegalArgumentException] {
      Dedup.simhashDupPairs(sample, maxHamming = 3, corpusSize = 10000000000L)
    }
    Dedup.simhashDupPairs128(sample, maxHamming = 3,
      corpusSize = 10000000000L).count() // must NOT throw

    // planted recall on the geometry simhashDupPairsAuto picks for a
    // corpus past the 64-bit threshold: every exact copy found (hamming 0)
    val base = docs.limit(200).select($"doc_id", $"text")
    val planted = base.filter($"doc_id" < 50)
      .select(($"doc_id" + 100000).as("doc_id"), $"text")
    val all = base.union(planted).cache()
    val got128 = Dedup.simhashDupPairsAuto(all, maxHamming = 3,
        assumeCorpusSize = 10000000000L)
      .filter($"hamming" === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wanted = (0L until 50L).map(i => (i, i + 100000)).toSet
    assert(wanted.subsetOf(got128), s"missing ${wanted -- got128}")

    // small-corpus branch: auto (real count) must take the cheaper 64-bit
    // path and reproduce the 64-bit operator's pair set exactly
    val autoSmall = Dedup.simhashDupPairsAuto(all, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct64 = Dedup.simhashDupPairs(all, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(autoSmall == direct64)
  }

  test("undersized geometry fails loudly; auto-sized planes keep recall") {
    // simhash block keyspace is fixed (2^16 at maxHamming=3): a 10^10-doc
    // corpus guarantees the average bucket exceeds the cap → hard error,
    // not a silent empty result
    val sample = docs.limit(10).select($"doc_id", $"text")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashDupPairs(sample, maxHamming = 3, maxBucket = 10000,
        corpusSize = 10000000000L)
    }
    assert(e.getMessage.contains("recall would collapse"))
    intercept[IllegalArgumentException] {
      Dedup.embeddingDupPairs(emb, dim = 64, planes = 2, corpusSize = 100000L)
    }

    // autoPlanes sizing: 10^10 vectors at the default target → 23 planes
    assert(Guard.autoPlanes(10000000000L) == 23)
    assert(Guard.autoPlanes(0L) == 4) // clamped at the floor
    assert(Guard.autoPlanes(2000L, targetBucket = 100) == 5)

    // recall: 400 spread vectors + 50 planted exact copies. Hand-undersized
    // geometry (2 buckets, cap 150) drops everything; the auto variant
    // derives enough planes to clear the cap and finds every planted pair.
    val base = spark.range(400).select($"id".as("vec_id"),
      array((0 until 64).map(i =>
        sin($"id" * lit(0.7) + lit(i * 1.3)).cast("float")): _*).as("embedding"))
      .cache()
    val planted = base.filter($"vec_id" < 50)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
    val all = base.union(planted).cache()
    val (lossyRows, lossy) = ledgerOf(Dedup.embeddingDupPairs(all, dim = 64, planes = 1,
      maxBucket = 150).count())
    assert(lossyRows == 0)
    assert(lossy.size == 1 && lossy.head.fraction >= 0.99, s"$lossy")
    val (got, auto) = ledgerOf(Dedup.embeddingDupPairsAuto(all, dim = 64,
        threshold = 0.999999, maxBucket = 150)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val wanted = (0L until 50L).map(i => (i, i + 100000)).toSet
    assert(wanted.subsetOf(got), s"missing ${wanted -- got}")
    assert(auto.size == 1 && auto.head.fraction == 0.0, s"auto still lossy: $auto")
    assert(Similarity.bucketedNeighborsAuto(all, dim = 64, k = 1, maxBucket = 150)
      .count() > 0)
  }

  test("dup clusters: star contraction equals a union-find replica on random graphs") {
    // driver-side union-find as the sequential oracle
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(v => v -> find(v)).toMap
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 8) {
      val n = 10 + rnd.nextInt(40)
      val nEdges = rnd.nextInt(2 * n)
      val edges = (0 until nEdges).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val df = spark.createDataFrame(edges).toDF("a", "b")
        val got = graft.ops.Dedup.dupClusters(df)
          .as[(Long, Long)].collect().toMap
        assert(got == unionFind(n, edges), s"trial $trial: $edges")
      }
    }

    // adversarial diameter: a 64-node path is the slow case for naive
    // min-propagation (O(n) rounds); star contraction must converge well
    // inside the rail and root everything at 0
    val path = spark.createDataFrame((0L until 63L).map(i => (i, i + 1))).toDF("a", "b")
    val chain = graft.ops.Dedup.dupClusters(path).as[(Long, Long)].collect()
    assert(chain.length == 64 && chain.forall(_._2 == 0L))

    // planted: two cliques + one pair stay three separate clusters
    val cliq = (for (g <- Seq(100L, 200L); i <- 0 until 4; j <- (i + 1) until 4)
      yield (g + i, g + j)) :+ ((500L, 501L))
    val planted = graft.ops.Dedup.dupClusters(
      spark.createDataFrame(cliq).toDF("a", "b"))
      .as[(Long, Long)].collect().groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(planted == Map(
      100L -> Set(100L, 101L, 102L, 103L),
      200L -> Set(200L, 201L, 202L, 203L),
      500L -> Set(500L, 501L)))

    // empty pair set → empty mapping (singletons are implicit clusters)
    val empty = spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("a", "b")
    assert(graft.ops.Dedup.dupClusters(empty).isEmpty)
  }

  test("quantile threshold: topFraction equals the tie-inclusive exact top-k") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey", $"o_totalprice").cache()
    val local = orders.as[(Long, Double)].collect()
    val n = local.length
    for (f <- Seq(0.1, 0.25, 0.5, 0.013)) {
      val k = math.max(1, math.ceil(n * f).toInt)
      val thr = local.map(_._2).sorted(Ordering[Double].reverse)(k - 1)
      val want = local.filter(_._2 >= thr).map(_._1).toSet
      val got = Quantiles.topFraction(orders, "o_totalprice", f, relativeError = 0.0)
        .select("o_orderkey").as[Long].collect().toSet
      assert(got == want, s"f=$f: ${got.size} vs ${want.size}")
    }
    // approximate mode: threshold within relativeError·n ranks of the
    // boundary → size bounded accordingly, and still a pure filter result
    val approx = Quantiles.topFraction(orders, "o_totalprice", 0.1,
      relativeError = 0.01).select("o_orderkey").as[Long].collect().toSet
    val k = math.ceil(n * 0.1).toInt
    assert(approx.size >= k - math.ceil(n * 0.01).toInt - 1)
    assert(approx.size <= k + math.ceil(n * 0.01).toInt + 1)
    // ties kept: duplicate every price, top-10% must include both copies
    val doubled = orders.union(orders.select($"o_orderkey" + 1000000, $"o_totalprice"))
    val gotD = Quantiles.topFraction(doubled, "o_totalprice", 0.1, relativeError = 0.0)
      .select("o_orderkey").as[Long].collect().toSet
    gotD.filter(_ < 1000000).foreach(id =>
      assert(gotD.contains(id + 1000000), s"tie pair of $id dropped"))
  }
}
