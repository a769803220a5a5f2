package graft.tools

import org.apache.spark.sql.SparkSession

/** Long-crawl endurance: run maxRounds ≫ collapseEvery with snapshot
  * persistence ON and record per-round wall time. A flat per-round cost
  * (normalized by frontier size) is the evidence that the seen-chain
  * collapse cycle bounds lineage/plan depth in practice,
  * and that delta host-state commits keep per-round commit I/O independent
  * of crawl age. Prints ONE JSON line with the per-round records.
  *
  * Usage: runMain graft.tools.EnduranceBench [nSeeds] [rounds] [cores] [collapseEvery] [nHosts]
  */
object EnduranceBench {
  def main(args: Array[String]): Unit = {
    val nSeeds = args.lift(0).map(_.toLong).getOrElse(100000L)
    val rounds = args.lift(1).map(_.toInt).getOrElse(12)
    val cores = args.lift(2).getOrElse("24")
    val collapseEvery = args.lift(3).map(_.toInt).getOrElse(4)
    // nHosts bounds the outlink URL space (outlinks stay on their host,
    // boards 0-4, posts 0-999): ~5k reachable URLs per host. Size it so
    // the space saturates mid-run — late rounds then shrink, which makes
    // any lineage/fixed-cost growth stand out instead of hiding inside
    // ever-bigger rounds.
    val nHosts = args.lift(4).map(_.toInt).getOrElse(128)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val store = java.nio.file.Files.createTempDirectory("graft-endurance").toString
    val seeds = spark.range(nSeeds)
      .map(i => graft.fixtures.Fixtures.benchSeed(i, postRange = 2000000, nHosts = nHosts))
    val cfg = graft.core.CrawlConfig(maxRounds = rounds,
      seenPartitions = cores.toInt, saltFactor = 32,
      bloomExpectedPerPartition = 2000000L, collapseEvery = collapseEvery)

    // Untimed warm-up, same rule as ScalingBench: the first big run in a
    // JVM/VM pays one-off JIT + lazy page-provisioning costs (tmpfs
    // shuffle space, block-manager maps) that are not endurance signal —
    // measured +28 s on round 0 alone in a cold JVM vs ~20 s warm. A
    // 2-round throwaway crawl on a quarter of the seeds absorbs it.
    {
      val warmStore = java.nio.file.Files.createTempDirectory("graft-endurance-warm").toString
      val warmCfg = cfg.copy(maxRounds = 2)
      val warm = new graft.pipeline.Crawler(spark, warmCfg, warmStore)
      warm.run(spark.range(math.max(1L, nSeeds / 4))
        .map(i => graft.fixtures.Fixtures.benchSeed(i, postRange = 2000000, nHosts = nHosts)))
      // the warm-up's snapshot store is dead weight sharing the timed
      // run's filesystem (tmpfs-backed /tmp would pressure the very run
      // this warm-up stabilizes) — delete it before the timed loop
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(warmStore))
    }

    val crawler = new graft.pipeline.Crawler(spark, cfg, store)
    var candidates = crawler.seedCandidates(seeds)
    var round = 0
    var have = true
    val recs = scala.collection.mutable.ArrayBuffer.empty[String]
    val hostFloor = NoiseSampler.hostFloor() // the in-run flag's idle reference
    // in-run noise samples: a 4-minute endurance run straddles the host's
    // burst waves more often than not; per-round walls without a noise
    // channel cannot distinguish lineage growth from a burst arriving
    // mid-run (observed: late-round creep 11.8→19.3 s that was ambient)
    val sampler = new NoiseSampler()
    val t0All = System.nanoTime()
    var prevScheduled = 0L
    while (round < rounds && have) {
      val t0 = System.nanoTime()
      crawler.runRound(round, candidates)
      candidates = crawler.candidatesFromStore(round + 1)
      val n = candidates.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cum = crawler.totalScheduled
      val roundUrls = cum - prevScheduled
      prevScheduled = cum
      recs += f"""{"round":$round,"wall_sec":$wall%.2f,"round_urls":$roundUrls,""" +
        f""""next_candidates":$n,"cum_scheduled":$cum,""" +
        f""""urls_per_sec":${roundUrls / wall}%.0f}"""
      println(s"[endurance] ${recs.last}")
      have = n > 0
      round += 1
    }
    val totalSec = (System.nanoTime() - t0All) / 1e9
    val noise = sampler.stop()
    println(s"""{"metric":"endurance_rounds","rounds_run":$round,""" +
      f""""total_sec":$totalSec%.1f,"total_scheduled":${crawler.totalScheduled},""" +
      f""""urls_per_sec":${crawler.totalScheduled / totalSec}%.0f,""" +
      s""""collapse_every":$collapseEvery,"cores":$cores,"seeds":$nSeeds,""" +
      f""""host_floor_mps":${hostFloor / 1e6}%.1f,""" +
      s""""inrun_noise":${noise.json(noise.flaggedVsIdle(hostFloor, cores.toInt))},""" +
      s""""per_round":[${recs.mkString(",")}]}""")
    spark.stop()
  }
}
