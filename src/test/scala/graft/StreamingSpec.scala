package graft

import graft.core._
import graft.fixtures.Fixtures
import graft.parse.PageParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** HTTP 429 for the first four attempts of every url on `host` — one past
  * the default maxRetries, so each (host, lane) clock suspends on its first
  * url there; every other url goes to the synthetic fetcher.
  */
final case class Always429For4(host: String) extends graft.fetch.Fetcher {
  override def fetch(canonUrl: String, attempt: Int): graft.fetch.FetchResponse =
    if (UrlCanon.host(canonUrl) == host && attempt <= 4) graft.fetch.FetchResponse(429, "")
    else graft.fetch.SyntheticFetcher.fetch(canonUrl, attempt)
}

/** Structured Streaming operators: file-backed streams driven synchronously
  * (memory sink + processAllAvailable) over the fixture corpus; results
  * compared against the batch equivalents.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  lazy val docsDir: String = {
    val dir = tempDir("graft-stream-docs") + "/data"
    val rows = (0 until 200).flatMap { i =>
      val canon = UrlCanon.canonicalize(
        Fixtures.cleanUrl(Fixtures.Hosts(i % 12), i % 4, i))
      PageParser.parse(Fixtures.html(canon), canon).map { p =>
        TestDoc(0, i.toLong, canon, canon, Fixtures.Hosts(i % 12),
          Fixtures.Keywords(i % 3), p.title, p.author,
          p.createdAt.map(java.sql.Timestamp.valueOf).orNull,
          p.viewCount, p.likeCount, p.spans, p.outlinks, p.comments)
      }
    }
    spark.createDataset(rows).write.parquet(dir)
    dir
  }

  test("streaming daily sentiment trend equals the batch aggregate") {
    val schema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(schema).parquet(docsDir)
    val q = graft.streaming.Streaming.sentimentTrendStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("trend")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    // append mode emits only watermark-closed windows; compare the emitted
    // buckets against the batch aggregate for those dates
    val got = spark.table("trend")
      .select($"date", $"value", $"count").collect()
      .map(r => (r.getTimestamp(0), (r.getDouble(1), r.getLong(2)))).toMap
    val batch = analysis.Trends.sentimentTrend(
      analysis.Sentiment.withSentiment(spark.read.parquet(docsDir)), "daily")
      .collect().map(r => (r.getTimestamp(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(got.nonEmpty, "no closed windows emitted")
    got.foreach { case (d, (v, c)) =>
      assert(batch.contains(d), s"bucket $d not in batch result")
      assert(math.abs(batch(d)._1 - v) < 1e-12 && batch(d)._2 == c, s"bucket $d differs")
    }
  }

  test("stateful politeness stream reproduces the batch state machine per host") {
    val entries = (0 until 150).map { i =>
      val host = Fixtures.Hosts(i % 4)
      val canon = UrlCanon.canonicalize(Fixtures.cleanUrl(host, i % 4, 500 + i))
      FrontierEntry(0, i.toLong, canon, canon, host, "kw")
    }
    // batch expectation: per-host sequential state machine
    val expected = {
      val clocks = scala.collection.mutable.Map.empty[String, graft.fetch.HostClock]
      entries.sortBy(_.seq).map { e =>
        val c = clocks.getOrElseUpdate(e.host, new graft.fetch.HostClock(
          Fixtures.robotsMap.get(e.host).map(_.crawlDelay).getOrElse(3.0), 3))
        val (status, attempts, _) = c.fetchOne(graft.fetch.SyntheticFetcher, e.canonUrl)
        CrawlLogEntry(e.round, e.seq, e.url, e.canonUrl, e.host, status, attempts)
      }
    }

    val dir = tempDir("graft-stream-frontier") + "/data"
    spark.createDataset(entries).write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir).as[FrontierEntry]
    val q = graft.streaming.Streaming.politenessStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("sched")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("sched").as[CrawlLogEntry].collect().sortBy(_.seq).toSeq
    assert(got == expected)
  }

  test("salted politeness stream keys by (host, lane): its rows equal the batch fetchParse rows") {
    val config = CrawlConfig(saltFactor = 4)
    val hot = Fixtures.Hosts(0)
    val fetcher = Always429For4(hot)
    val entries = (0 until 120).map { i =>
      val host = Fixtures.Hosts(i % 3)
      val canon = UrlCanon.canonicalize(Fixtures.cleanUrl(host, i % 4, 700 + i))
      FrontierEntry(0, i.toLong, canon, canon, host, "kw")
    }
    val batch = new pipeline.Crawler(spark, config, tempDir("graft-stream-salted-batch"), fetcher)
      .fetchParse(0, spark.createDataset(entries)).collect()
      .flatMap(o => Option(o._1))
      // the stream logs fetch outcomes only; the batch stage also parses,
      // and its parse_failed rows were fetched
      .map(r => (r.seq, if (r.status == "parse_failed") "fetched" else r.status, r.attempts))
      .sortBy(_._1).toSeq
    // each of the hot host's lanes suspends on its own first url
    val hotFailed = batch.count { case (seq, status, attempts) =>
      entries(seq.toInt).host == hot && status == "fetch_failed" && attempts == 4 }
    assert(hotFailed > 1, s"test vacuous: $hotFailed hot-host lanes suspended")

    val dir = tempDir("graft-stream-salted") + "/data"
    spark.createDataset(entries).write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir).as[FrontierEntry]
    val q = graft.streaming.Streaming.politenessStream(stream, fetcher, config)
      .writeStream.outputMode("append").format("memory").queryName("salted_sched")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("salted_sched").as[CrawlLogEntry].collect()
      .map(e => (e.seq, e.status, e.attempts)).sortBy(_._1).toSeq
    assert(got == batch)
  }

  test("streaming URL-seen dedup: first discovery wins, once per key across batches") {
    // candidates with noisy duplicates, as (canon, url, ord0, ord1)
    val cands = (0 until 300).map { i =>
      val h = Fixtures.mix(91L, i.toLong)
      val host = Fixtures.pickSite(h)
      val url = Fixtures.noisyUrl(host, Fixtures.bounded(h, 4),
        Fixtures.bounded(Fixtures.mix(h, 1L), 60), Fixtures.mix(h, 2L)) // small post space → many dups
      (UrlCanon.canonicalize(url), url, i.toLong, 0)
    }
    // TWO micro-batches with controlled arrival order (one file each,
    // mtime-ordered, maxFilesPerTrigger=1): batch 2 re-delivers keys first
    // seen in batch 1, so the cross-batch GroupState suppression branch
    // genuinely executes
    val batches = Seq(cands.take(150), cands.drop(150))
    val dir = tempDir("graft-stream-dedup") + "/data"
    batches.zipWithIndex.foreach { case (b, i) =>
      val sub = s"$dir/b$i"
      spark.createDataset(b).toDF("canon", "url", "ord0", "ord1")
        .coalesce(1).write.parquet(sub)
      val f = new java.io.File(sub).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(f.length == 1)
      val dst = new java.io.File(dir, f"part-$i%05d.parquet")
      java.nio.file.Files.move(f.head.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    val schema = spark.read.parquet(s"$dir/part-00000.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/part-*.parquet")
      .as[(String, String, Long, Int)]
    val q = graft.streaming.Streaming.seenDedupStream(stream)
      .toDF("canon", "url", "ord0", "ord1")
      .writeStream.outputMode("append").format("memory").queryName("dedup")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup").as[(String, String, Long, Int)]
      .collect().map(r => (r._1, r._3, r._4)).sorted.toVector
    // replica of arrival-order first-wins: per batch in order, emit each
    // unseen key once with its min (ord0, ord1) WITHIN that batch
    val seen = scala.collection.mutable.Set.empty[String]
    val want = batches.flatMap { b =>
      b.groupBy(_._1).toSeq.collect {
        case (canon, rs) if seen.add(canon) =>
          val m = rs.map(r => (r._3, r._4)).min
          (canon, m._1, m._2)
      }
    }.sorted.toVector
    assert(got == want) // exact multiset: a double emission would differ
    assert(got.size == cands.map(_._1).distinct.size, "exactly once per key")
    val batch1Keys = batches.head.map(_._1).toSet
    assert(batches(1).exists(r => batch1Keys(r._1)),
      "test vacuous: batch 2 must re-deliver batch-1 keys")
  }

  /** One coalesced parquet file per micro-batch, mtime-ordered. */
  private def writeBatchFile(dir: String, idx: Int,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val sub = s"$dir/b$idx"
    df.coalesce(1).write.parquet(sub)
    val f = new java.io.File(sub).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(f.length == 1)
    val dst = new java.io.File(dir, f"part-$idx%05d.parquet")
    java.nio.file.Files.move(f.head.toPath, dst.toPath)
    dst.setLastModified(1000000L * (idx + 1))
  }

  test("seen-dedup stream restarts from its checkpoint: state survives, no reprocessing") {
    // keys engineered so the post-restart batch re-delivers pre-restart
    // keys (must stay suppressed by the RESTORED GroupState) plus new ones
    val mk = (i: Int) => {
      val host = Fixtures.Hosts(i % 6)
      val canon = UrlCanon.canonicalize(Fixtures.cleanUrl(host, i % 4, i))
      (canon, canon, i.toLong, 0)
    }
    val phase1 = (0 until 120).map(mk)          // keys 0..119
    val phase2 = (60 until 180).map(mk)         // re-delivers 60..119, new 120..179
    val root = tempDir("graft-stream-ckpt-dedup")
    val dir = s"$root/data"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    writeBatchFile(dir, 0, spark.createDataset(phase1).toDF("canon", "url", "ord0", "ord1"))
    val schema = spark.read.parquet(s"$dir/part-00000.parquet").schema

    // memory sinks cannot recover a checkpoint — the restartable pair is a
    // file sink (exactly-once via its _spark_metadata commit log) + the
    // state store checkpoint
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/part-*.parquet")
        .as[(String, String, Long, Int)]
      val q = graft.streaming.Streaming.seenDedupStream(stream)
        .toDF("canon", "url", "ord0", "ord1")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }

    run() // processes phase1, then terminates (AvailableNow)
    val got1 = spark.read.parquet(out).select("canon").as[String].collect().toSet
    assert(got1 == phase1.map(_._1).toSet)

    // mid-stream stop: new data lands while the query is down, then the
    // query RESTARTS from the same checkpoint (fresh plan, fresh sink)
    writeBatchFile(dir, 1, spark.createDataset(phase2).toDF("canon", "url", "ord0", "ord1"))
    run()
    val all = spark.read.parquet(out).select("canon").as[String].collect().toVector
    assert(all.size == all.distinct.size, "a key was emitted twice across the restart")
    val got2 = all.toSet -- got1
    val expectedNew = phase2.map(_._1).toSet -- got1
    assert(got2 == expectedNew,
      s"restart must emit ONLY unseen keys: extra=${got2 -- expectedNew} missing=${expectedNew -- got2}")
    assert(expectedNew.nonEmpty && phase2.map(_._1).toSet.intersect(got1).nonEmpty,
      "test vacuous: phase 2 needs both new and re-delivered keys")
  }

  test("politeness stream restarts from its checkpoint with host state intact") {
    // a URL whose 429 fault outlasts maxRetries SUSPENDS its host — the
    // durable, output-visible state a restart must preserve (a fresh clock
    // would happily fetch the host's phase-2 URLs)
    val (suspHost, suspPost) = (for {
      host <- Fixtures.Hosts.filter(_.startsWith("board")).iterator
      p <- (0 until 5000).iterator
      canon = UrlCanon.canonicalize(Fixtures.cleanUrl(host, 0, p))
      f <- Fixtures.fault(canon)
      if f.kind == "http_429" && f.count > 3
    } yield (host, p)).next()
    val hosts = Vector(suspHost) ++ Fixtures.Hosts.filterNot(_ == suspHost).take(2)
    val entries = (0 until 120).map { i =>
      val host = hosts(i % hosts.length)
      // suspension fires in phase 1 (board 0: the fault was probed there)
      val (board, post) = if (i == 30) (0, suspPost) else (i % 4, 900 + i)
      val canon = UrlCanon.canonicalize(Fixtures.cleanUrl(host, board, post))
      FrontierEntry(0, i.toLong, canon, canon, host, "kw")
    }
    val (first, second) = entries.splitAt(60)
    // sequential oracle over ALL entries with clocks carried through
    val carried = {
      val clocks = scala.collection.mutable.Map.empty[String, graft.fetch.HostClock]
      entries.map { e =>
        val c = clocks.getOrElseUpdate(e.host, new graft.fetch.HostClock(
          Fixtures.robotsMap.get(e.host).map(_.crawlDelay).getOrElse(3.0), 3))
        val (status, attempts, _) = c.fetchOne(graft.fetch.SyntheticFetcher, e.canonUrl)
        (e.seq, status, attempts)
      }
    }
    // the discriminating oracle: second half with FRESH clocks — what a
    // state-losing restart would produce. Must differ or the test is vacuous.
    val fresh = {
      val clocks = scala.collection.mutable.Map.empty[String, graft.fetch.HostClock]
      second.map { e =>
        val c = clocks.getOrElseUpdate(e.host, new graft.fetch.HostClock(
          Fixtures.robotsMap.get(e.host).map(_.crawlDelay).getOrElse(3.0), 3))
        val (status, attempts, _) = c.fetchOne(graft.fetch.SyntheticFetcher, e.canonUrl)
        (e.seq, status, attempts)
      }
    }
    assert(carried.drop(60) != fresh,
      "test vacuous: carried-over state must be observable in the second half")

    val root = tempDir("graft-stream-ckpt-sched")
    val dir = s"$root/data"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    writeBatchFile(dir, 0, spark.createDataset(first).toDF())
    val schema = spark.read.parquet(s"$dir/part-00000.parquet").schema

    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/part-*.parquet")
        .as[FrontierEntry]
      val q = graft.streaming.Streaming.politenessStream(stream)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }

    run()
    assert(spark.read.parquet(out).count() == first.size)
    writeBatchFile(dir, 1, spark.createDataset(second).toDF())
    run()
    val got = spark.read.parquet(out).as[CrawlLogEntry].collect()
      .sortBy(_.seq).map(e => (e.seq, e.status, e.attempts)).toSeq
    assert(got.size == entries.size, "restart reprocessed or dropped rows")
    assert(got == carried, "restarted stream must continue the per-host state machine")
  }

  test("urgent sliding-window counts emit only above the threshold") {
    val schema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(schema).parquet(docsDir)
    val q = graft.streaming.Streaming.urgentCountsStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("urgent")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("urgent").collect()
    got.foreach(r => assert(r.getLong(2) >= graft.analysis.Alerts.UrgentMinPosts))
  }
}
