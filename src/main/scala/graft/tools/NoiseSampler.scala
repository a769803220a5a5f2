package graft.tools

import scala.collection.mutable.ArrayBuffer

/** In-run host-noise sampler.
  *
  * The bench's bracketing spin probes (`NoiseSampler.cpuSpeedPerThread`
  * before/after the timed work) only see a run's ENDPOINTS: an external
  * host burst that starts and ends inside the run leaves both probes
  * clean and the record silently contaminated (the round-4 7,074 urls/s
  * crawl and the 5.97k outlier were exactly this — inferred from battery
  * spread, not measured). This daemon thread samples a short
  * single-thread register-spin probe every `periodMs` DURING the run and
  * reports min / median, making a burst-straddled record self-flagging.
  *
  * Why a 1-thread probe is a valid signal mid-run: the bench levels
  * (local[6] / local[24] / local[32] of 32 vCPUs) leave spare vCPUs, and
  * even at full subscription the probe thread gets scheduled within its
  * 200 ms window; what depresses it is the HOST (microVM co-tenants)
  * stealing cycles — the same mechanism the bracketing probes measure,
  * now sampled through the middle. On a clean host the samples sit in
  * the same ~700-800 M/s band as the bracketing pair; a burst window
  * shows as min ≪ median (burst shorter than the run) or a depressed
  * median (burst covering it).
  */
final class NoiseSampler(periodMs: Long = 5000, probeMs: Long = 200) {
  private val samples = ArrayBuffer.empty[Double]
  @volatile private var running = true
  private val t = new Thread(() => {
    // discard one probe so the spin loop is JITted before the first
    // recorded sample (same rule as the bracketing probes)
    NoiseSampler.cpuSpeedPerThread(1, probeMs)
    while (running) {
      val s = NoiseSampler.cpuSpeedPerThread(1, probeMs)
      samples.synchronized { samples += s }
      val deadline = System.nanoTime() + periodMs * 1000000L
      while (running && System.nanoTime() < deadline) Thread.sleep(50)
    }
  })
  t.setDaemon(true)
  t.setName("graft-noise-sampler")
  t.start()

  /** Stop sampling and summarize. */
  def stop(): NoiseSampler.Report = {
    running = false
    t.join(2000)
    val xs = samples.synchronized { samples.toVector }.sorted
    if (xs.isEmpty) NoiseSampler.Report(0, Double.NaN, Double.NaN, Double.NaN)
    else NoiseSampler.Report(xs.size, xs.head, xs(xs.size / 4), xs(xs.size / 2))
  }
}

object NoiseSampler {
  /** Active-core CPU speed probe: saturate `threads` threads with a pure
    * register-only LCG spin (zero memory traffic) and return mean
    * iterations/sec per thread: the host's per-thread speed at that
    * active-core count. Bench brackets its timed runs with it, and the
    * in-run sampler and `hostFloor` run it on one thread.
    */
  def cpuSpeedPerThread(threads: Int, millis: Long = 3000): Double = {
    val counts = new java.util.concurrent.atomic.AtomicLongArray(threads)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        var x = i + 1L; var n = 0L
        while (!stop.get()) {
          var k = 0
          while (k < 100000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
          n += 100000
        }
        sink.addAndGet(x) // keep the loop un-eliminable
        counts.set(i, n)
      })
      t.setDaemon(true); t
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); Thread.sleep(millis); stop.set(true); ts.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    (0 until threads).map(counts.get).sum.toDouble / threads / sec
  }

  /** The host's own clean-host floor for the idle reference (iterations/
    * sec): the highest of three 1 s idle single-thread probes after a
    * discarded JIT probe (a burst only lowers a reading). Tools take it
    * once per run, floor their idleRef at it and print it as
    * `host_floor_mps`: flagging against burst-depressed bracketing probes
    * let a fully-noisy window self-approve (in-run median 514 M/s against
    * probes of 204/339). A burst through all three probes lowers the floor
    * too, which the printed value shows.
    */
  def hostFloor(): Double = {
    cpuSpeedPerThread(1, 500)
    Seq.fill(3)(cpuSpeedPerThread(1, 1000)).max
  }

  /** min/p25/median in iterations/sec (divide by 1e6 for the M/s the
    * bracketing probes print).
    *
    * Burst detection is IDLE-REFERENCED, not self-relative: on a clean
    * host CFS fairness gives the probe thread nearly a full vCPU even at
    * full subscription (measured at local[32]: in-run median 722 M/s vs
    * 748 idle — 33 runnable threads on 32 vCPUs each get ~32/33 of a
    * core), so the in-run median sits in a narrow band below the
    * bracketing idle probes and an EXTERNAL burst (extra runnable
    * threads from a co-tenant) pushes it below that band. A self-relative
    * criterion (p25 vs own median) false-positives on our own job's
    * transient squeezes — GC pauses, stage-boundary scheduling bursts —
    * which crater min/p25 on a perfectly clean host.
    *
    * `flaggedVsIdle(idleRef, threads)`: median fell below a margin of the
    * bracketing single-thread idle probe (a burst covering most of the
    * run — the observed co-tenant bursts run ~10 min), or p25 below one (a
    * burst covering ≥¼ of it). A run of `threads` busy threads that leaves
    * vCPUs spare gets tight margins (0.85/0.70); one that busies every vCPU
    * gets the loose ones its self-squeeze needs (0.80/0.50: a clean
    * local[32] run read median 0.96×idle, p25 0.69×idle). One sample is no
    * verdict; the median rule applies from two samples (a run of ~5 s, at
    * the default period) and the p25 rule, which needs a quarter of the
    * samples to mean anything, from four.
    */
  final case class Report(n: Int, min: Double, p25: Double, median: Double) {
    def minMps: Double = min / 1e6
    def medianMps: Double = median / 1e6
    def flaggedVsIdle(idleRef: Double, threads: Int): Boolean = {
      val (medianFrac, p25Frac) =
        if (threads >= Runtime.getRuntime.availableProcessors) (0.80, 0.50) else (0.85, 0.70)
      idleRef > 0 && (n >= 2 && median < medianFrac * idleRef ||
        n >= 4 && p25 < p25Frac * idleRef)
    }
    def json(flagged: Boolean): String =
      if (n == 0) """{"n":0}"""
      else f"""{"n":$n,"min_mps":$minMps%.1f,"p25_mps":${p25 / 1e6}%.1f,""" +
        f""""median_mps":$medianMps%.1f,"flagged":$flagged}"""
  }
}
