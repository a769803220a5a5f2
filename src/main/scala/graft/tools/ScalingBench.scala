package graft.tools

import org.apache.spark.sql.SparkSession

/** North-rule scaling evidence: the same crawl job at two parallelism
  * levels (local[N] and local[4N] — stands in for N vs 4N executors; no
  * real cluster exists in this sandbox, see BASELINE.md), reporting
  * throughput at both plus scaling efficiency = (thr_4N / thr_N) / 4.
  *
  * Usage: runMain graft.tools.ScalingBench [nSeeds] [loCores] [hiCores]
  */
object ScalingBench {

  /** Memory-hierarchy speed probe: per-thread copy throughput over a
    * 16 MB long array at `threads` active threads. On this host the
    * per-thread copy rate drops ~1.1x (12 busy cores) to ~1.4x (24 busy
    * cores) vs few-core runs — the shared cache/DRAM envelope. This
    * matches the crawl stages' task-second inflation almost exactly
    * (memory-bound parse work), so it is reported alongside raw
    * efficiency: a cluster's 4N executors bring 4N memory systems, a
    * single box does not.
    */
  def memSpeedPerThread(threads: Int, millis: Long = 3000): Double = {
    val counts = new java.util.concurrent.atomic.AtomicLongArray(threads)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        val n = 1 << 21
        val a = new Array[Long](n); val b = new Array[Long](n)
        java.util.Arrays.fill(a, i.toLong)
        var reps = 0L
        while (!stop.get()) { System.arraycopy(a, 0, b, 0, n); reps += 1 }
        counts.set(i, reps + (if (b(0) == Long.MinValue) 1 else 0))
      })
      t.setDaemon(true); t
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); Thread.sleep(millis); stop.set(true); ts.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    (0 until threads).map(counts.get).sum.toDouble * 16.0 / threads / sec // MB/s/thread
  }

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
    // in-run noise samples: the bracketing probes cannot see a burst that
    // starts and ends inside the run — this can (see NoiseSampler)
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
    // repetitions and take the best time per level. Each crawl run is
    // bracketed by a cpu-speed probe at the SAME active-core count so the
    // host's frequency-vs-active-cores response is sampled alongside.
    val reps = args.lift(3).map(_.toInt).getOrElse(2)
    val spdLo = scala.collection.mutable.ArrayBuffer.empty[Double]
    val spdHi = scala.collection.mutable.ArrayBuffer.empty[Double]
    val memLo = scala.collection.mutable.ArrayBuffer.empty[Double]
    val memHi = scala.collection.mutable.ArrayBuffer.empty[Double]
    val runs = (0 until reps).flatMap { r =>
      spdLo += NoiseSampler.cpuSpeedPerThread(lo); memLo += memSpeedPerThread(lo)
      val (ls, lu, ln) = runOnce(lo, nSeeds)
      spdHi += NoiseSampler.cpuSpeedPerThread(hi); memHi += memSpeedPerThread(hi)
      val (hs, hu, hn) = runOnce(hi, nSeeds)
      require(lu == hu, s"determinism violated: $lu vs $hu")
      println(f"""[scaling-rep $r] lo=$ls%.2fs hi=$hs%.2fs urls=$lu """ +
        f"""spin_lo=${spdLo.last / 1e6}%.1fM/s spin_hi=${spdHi.last / 1e6}%.1fM/s """ +
        f"""mem_lo=${memLo.last}%.0fMB/s mem_hi=${memHi.last}%.0fMB/s """ +
        s"""inrun_lo=${ln.json(ln.flaggedVsIdle(spdLo.last, lo))} """ +
        s"""inrun_hi=${hn.json(hn.flaggedVsIdle(spdHi.last, hi))}""")
      Seq((lo, ls, lu, ln), (hi, hs, hu, hn))
    }
    val loSec = runs.filter(_._1 == lo).map(_._2).min
    val hiSec = runs.filter(_._1 == hi).map(_._2).min
    val urls = runs.head._3
    // contamination verdict for the RECORDED pair: min-of-reps already
    // rejects bursty reps (that is the method), so the record is clean iff
    // the min rep at EACH level has clean in-run noise. Probe spread
    // across reps is reported as a diagnostic, not a veto — an absorbed
    // burst in a DISCARDED rep is the min-selection working as intended.
    // The in-run flags are idle-referenced against the SAME level's
    // bracketing probes: the probe thread during a lo run rides the host's
    // (lo+1)-active-core clock regime, which is what the lo spin probes
    // measure (and likewise for hi) — comparing across levels would
    // misread the downclock-vs-active-cores response as a burst.
    val loNoise = runs.filter(_._1 == lo).minBy(_._2)._4
    val hiNoise = runs.filter(_._1 == hi).minBy(_._2)._4
    def spread(xs: Seq[Double]): Double = if (xs.isEmpty) 1.0 else xs.max / xs.min
    // idleRef floored at the clean-host band: depressed bracketing probes
    // must tighten the verdict, never loosen it (NoiseSampler.hostFloor)
    val loFlag = loNoise.flaggedVsIdle(math.max(spdLo.max, hostFloor), lo)
    val hiFlag = hiNoise.flaggedVsIdle(math.max(spdHi.max, hostFloor), hi)
    val contaminated = loFlag || hiFlag

    val thrLo = urls / loSec
    val thrHi = urls / hiSec
    val eff = (thrHi / thrLo) / (hi.toDouble / lo)
    // host clock factor: per-thread register-spin speed at lo vs hi active
    // cores (>1 means the host downclocks with more busy cores). The
    // normalized efficiency removes this sandbox-only artifact — cluster
    // scaling (the north-rule criterion) adds nodes, which does not
    // downclock existing ones.
    val clockRatio = (spdLo.sum / spdLo.size) / (spdHi.sum / spdHi.size)
    val memRatio = (memLo.sum / memLo.size) / (memHi.sum / memHi.size)
    // envelope correction uses max(clock, mem), NOT their product: a
    // workload is bounded by one resource at a time, so multiplying both
    // ratios double-counts the host's active-core response (the round-3
    // artifact reported a >1.0 "efficiency" exactly this way). Still a
    // SECONDARY diagnostic — the raw value is the number of record.
    // When the probe pairs are themselves contaminated (asymmetric across
    // reps, or a mid-run sampler tripped), the "correction" divides by a
    // burst, not the host envelope — round 4 published a nonsense 2.19
    // exactly this way. Emit null instead of a number inviting misquoting.
    // Plausibility rails on the ratios themselves: more active cores can
    // only hold or LOWER per-thread clock / DRAM share, so lo/hi ratios
    // sit in [~1, ~1.3] (clock) and [~1, ~4] (mem) on a clean host — a
    // ratio outside that band means one probe ate a burst (measured: a
    // depressed lo spin probe produced clockRatio 0.37 → envelope 0.19,
    // garbage in the OTHER direction from r4's 2.19).
    val ratiosPlausible = clockRatio >= 0.95 && clockRatio <= 1.5 &&
      memRatio >= 0.95 && memRatio <= 4.0
    // a spin-probe pair spread wide across reps at one level means one of
    // the probes ate a burst: the level's AVERAGE (which feeds clockRatio)
    // is then part-burst, and the "correction" divides by noise — the
    // round-5 0.804 record published envelope 2.226 exactly this way
    // (probe_spread_hi 1.355). The raw value never uses the probes.
    val probesSymmetric = spread(spdLo.toSeq) <= 1.15 && spread(spdHi.toSeq) <= 1.15
    val effEnvelope =
      if (contaminated || !ratiosPlausible || !probesSymmetric) "null"
      else f"${eff * math.max(clockRatio, memRatio)}%.3f"
    println(f"""{"metric":"crawl_scaling_efficiency","value":$eff%.3f,""" +
      s""""envelope_normalized_efficiency":$effEnvelope,""" +
      f""""host_clock_ratio_lo_over_hi":$clockRatio%.3f,""" +
      f""""host_memcopy_ratio_lo_over_hi":$memRatio%.3f,""" +
      f""""cores_lo":$lo,"cores_hi":$hi,"urls":$urls,"reps":$reps,""" +
      f""""sec_lo":$loSec%.2f,"sec_hi":$hiSec%.2f,""" +
      f""""urls_per_sec_lo":$thrLo%.1f,"urls_per_sec_hi":$thrHi%.1f,""" +
      s""""inrun_noise_lo":${loNoise.json(loFlag)},"inrun_noise_hi":${hiNoise.json(hiFlag)},""" +
      f""""probe_spread_lo":${spread(spdLo.toSeq)}%.3f,"probe_spread_hi":${spread(spdHi.toSeq)}%.3f,""" +
      f""""host_floor_mps":${hostFloor / 1e6}%.1f,"contaminated":$contaminated,""" +
      f""""note":"value = raw wall-clock efficiency (the number of record); envelope_normalized divides out the WORSE of the measured per-thread register-spin / 16MB-copy throughput ratios between the two active-core counts (this single box downclocks/saturates shared cache+DRAM as active cores grow; adding cluster NODES adds whole memory systems instead)"}""")
  }
}
