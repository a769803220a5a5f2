package graft.tools

import org.apache.spark.sql.SparkSession

/** North-rule scaling evidence: the same crawl job at two parallelism
  * levels (local[N] and local[4N] — stands in for N vs 4N executors; no
  * real cluster exists in this sandbox, see BASELINE.md), reporting
  * throughput at both plus the raw wall-clock scaling efficiency
  * (thr_4N / thr_N) / 4, and each level's in-run host noise.
  *
  * Usage: runMain graft.tools.ScalingBench [nSeeds] [loCores] [hiCores] [reps]
  */
object ScalingBench {

  def runOnce(cores: Int, nSeeds: Long): (Double, Long, NoiseSampler.Report) = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle/spill on tmpfs: the sandbox's /tmp is a single virtio disk
      // whose concurrent-writer kernel overhead dwarfs compute (observed
      // 70% system time at high parallelism); a real cluster spreads this
      // across executor-local disks
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory(s"graft-scale-$cores").toString
    val seeds = spark.range(nSeeds)
      .map(i => graft.fixtures.Fixtures.benchSeed(i, postRange = 200000, nHosts = 1024))
      .persist()
    seeds.count() // materialize input outside the timed section
    // saltFactor 64: the Zipf head (2 hosts ~30% of the frontier) must be
    // split finely enough that no single (host, lane) task dominates the
    // fetch stage wall-time at the HIGH parallelism level — with coarse salting the
    // hottest lane (~57k URLs) was a single ~15 s task, i.e. a serial tail
    // that capped measurable scaling (each lane still paces at
    // delay*salt, preserving the per-host politeness budget)
    val cfg = graft.core.CrawlConfig(maxRounds = 2, seenPartitions = math.max(cores, 16),
      saltFactor = 64, bloomExpectedPerPartition = 2000000L)
    // in-run noise samples, flagged against the host's idle floor
    val sampler = new NoiseSampler()
    val t0 = System.nanoTime()
    val crawler = new graft.pipeline.Crawler(spark, cfg, store)
    crawler.run(seeds)
    val sec = (System.nanoTime() - t0) / 1e9
    val noise = sampler.stop()
    val scheduled = crawler.totalScheduled
    spark.stop()
    // a fresh builder after stop() creates a brand-new context
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    // the run's snapshot store, deleted outside the timed window: a run
    // leaves ~1 KB per crawled URL, and every rep crawls into a new store
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
    (sec, scheduled, noise)
  }

  def main(args: Array[String]): Unit = {
    val nSeeds = args.lift(0).map(_.toLong).getOrElse(400000L)
    val lo = args.lift(1).map(_.toInt).getOrElse(8)
    val hi = args.lift(2).map(_.toInt).getOrElse(32)
    val hostFloor = NoiseSampler.hostFloor() // idle: no Spark session yet

    // Warm-up at FULL size: the first big run in a JVM/VM pays one-off
    // host costs a small warm-up cannot absorb — JIT plus the microVM
    // host's lazy page provisioning of tmpfs shuffle space (observed 6x
    // first-big-run stalls). Untimed, like the heap pretouch.
    runOnce(hi, nSeeds)

    // same-JVM runs are noisy (GC history, page cache) — interleave
    // repetitions and take the best time per level
    val reps = args.lift(3).map(_.toInt).getOrElse(2)
    val runs = (0 until reps).flatMap { r =>
      val (ls, lu, ln) = runOnce(lo, nSeeds)
      val (hs, hu, hn) = runOnce(hi, nSeeds)
      require(lu == hu, s"determinism violated: $lu vs $hu")
      println(f"""[scaling-rep $r] lo=$ls%.2fs hi=$hs%.2fs urls=$lu """ +
        s"""inrun_lo=${ln.json(ln.flaggedVsIdle(hostFloor, lo))} """ +
        s"""inrun_hi=${hn.json(hn.flaggedVsIdle(hostFloor, hi))}""")
      Seq((lo, ls, lu, ln), (hi, hs, hu, hn))
    }
    val loSec = runs.filter(_._1 == lo).map(_._2).min
    val hiSec = runs.filter(_._1 == hi).map(_._2).min
    val urls = runs.head._3
    // contamination verdict for the RECORDED pair: min-of-reps already
    // rejects bursty reps (that is the method), so the record is clean iff
    // the min rep at EACH level has clean in-run noise against the host's
    // idle floor
    val loNoise = runs.filter(_._1 == lo).minBy(_._2)._4
    val hiNoise = runs.filter(_._1 == hi).minBy(_._2)._4
    val loFlag = loNoise.flaggedVsIdle(hostFloor, lo)
    val hiFlag = hiNoise.flaggedVsIdle(hostFloor, hi)
    val contaminated = loFlag || hiFlag

    val thrLo = urls / loSec
    val thrHi = urls / hiSec
    val eff = (thrHi / thrLo) / (hi.toDouble / lo)
    println(f"""{"metric":"crawl_scaling_efficiency","value":$eff%.3f,""" +
      f""""cores_lo":$lo,"cores_hi":$hi,"urls":$urls,"reps":$reps,""" +
      f""""sec_lo":$loSec%.2f,"sec_hi":$hiSec%.2f,""" +
      f""""urls_per_sec_lo":$thrLo%.1f,"urls_per_sec_hi":$thrHi%.1f,""" +
      s""""inrun_noise_lo":${loNoise.json(loFlag)},"inrun_noise_hi":${hiNoise.json(hiFlag)},""" +
      f""""host_floor_mps":${hostFloor / 1e6}%.1f,"contaminated":$contaminated}""")
  }
}
