package graftbench

import graft.fetch.SyntheticFetcher
import graft.ops.Guard
import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.ObjectMapper

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark driver. Run from the repository root (see perfbench/run.py):
  *
  *   --workload crawl-fresh|crawl-revisit|query-battery --seed N --seconds S
  *   --trace 0|1 [--smoke] [--pin [--pin-seeds LO-HI]]
  *
  * Untraced (`--trace 0`) runs print every end-to-end metric; traced runs
  * print every per-layer metric. The last stdout line is one JSON object
  * {correct, attempted, failed, metrics}. `--pin` prints the expected
  * outputs for the seed instead (perfbench/pins.json); with
  * `--pin-seeds LO-HI`, the sequential oracle's crawl digests of a seed range.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      smoke: Boolean, pin: Boolean, pinSeeds: Option[(Long, Long)])

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Args(kv.getOrElse("--workload", sys.error("--workload required")),
      kv.get("--seed").map(_.toLong).getOrElse(1L), kv.get("--seconds").map(_.toInt).getOrElse(10),
      kv.get("--trace").contains("1"), argv.contains("--smoke"), argv.contains("--pin"),
      kv.get("--pin-seeds").map { r => val Array(lo, hi) = r.split("-"); (lo.toLong, hi.toLong) })
  }

  val Shapes: Map[(String, Boolean), CrawlShape] = Map(
    ("crawl-fresh", false) -> CrawlShape(seeds = 8000, postRange = 200000, hosts = 1024,
      rounds = 2, legRounds = 2, collapseEvery = 8),
    ("crawl-revisit", false) -> CrawlShape(seeds = 3000, postRange = 1000, hosts = 2,
      rounds = 3, legRounds = 2, collapseEvery = 1),
    ("crawl-fresh", true) -> CrawlShape(seeds = 600, postRange = 200000, hosts = 64,
      rounds = 2, legRounds = 2, collapseEvery = 8),
    ("crawl-revisit", true) -> CrawlShape(seeds = 200, postRange = 200, hosts = 2,
      rounds = 3, legRounds = 2, collapseEvery = 1))

  /** The warm-up crawl: the smoke shape cut to two one-round legs, so that
    * both a fresh and a resuming Crawler run (and, on crawl-revisit, a
    * seen-chain collapse).
    */
  def warmUpShape(workload: String): CrawlShape =
    Shapes((workload, true)).copy(rounds = 2, legRounds = 1)

  val SmokeQueries = Seq("q01_pricing_summary", "q05_top3_orders_per_customer",
    "q15_url_canon", "q18_sentiment_lexicon", "q33_lsh_topk")

  def session(cpus: Int, localDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", localDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val root = Paths.get("").toAbsolutePath
    val workDir = Paths.get(sys.props("java.io.tmpdir")).getParent
    val cpus = Runtime.getRuntime.availableProcessors()
    val bench = new ObjectMapper().readTree(root.resolve("BENCHMARK.json").toFile)
    def names(key: String): Seq[(String, String)] =
      bench.get(key).elements().asScala.map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    val pins = new Check.Pins(root.resolve("perfbench/pins.json").toString)
    val size = if (a.smoke) "smoke" else "full"
    HeapPeak.install()

    def crawlAt(seed: Long) = new CrawlWorkload(a.workload, Shapes((a.workload, a.smoke)), seed, size, cpus, workDir)
    val wl: Workload = a.workload match {
      case "crawl-fresh" | "crawl-revisit" => new CrawlRunner(crawlAt(a.seed),
        new CrawlWorkload(a.workload, warmUpShape(a.workload), a.seed, "warm", cpus, workDir),
        timedCold = a.workload == "crawl-fresh")
      case "query-battery" =>
        new BatteryRunner(new BatteryWorkload(root.resolve("perfbench/data/sf0.01"), "sf0.01",
          if (a.smoke) SmokeQueries else Nil))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up, timed once from JVM start until ready to time: session start,
    // the workload's inputs and its warm-up
    val spark = session(cpus, workDir.resolve("spark-local"))
    wl.prepare(spark)
    if (!a.pin) wl.warmUp(spark, a.trace)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    if (a.pin) {
      println(a.pinSeeds match {
        case Some((lo, hi)) => CrawlRunner.pinOracle(spark, crawlAt, lo to hi, cpus)
        case None           => wl.pin(spark, pins)
      })
      spark.stop()
      return
    }

    val r = wl.run(spark, a, pins)
    val spin = r.spin
    val values = r.metrics ++ Map("setup_s" -> setupS, "host.spin_mps_p25" -> spin)
    val declared = names(if (a.trace) "per_layer" else "end_to_end")
    val metrics = declared.map { case (n, u) =>
      s""""$n":{"value":${num(values.getOrElse(n, 0.0))},"unit":"$u"}""" }.mkString(",")
    val detail = (r.detail ++ Map("setup_s" -> num(setupS),
      "host.spin_mps_p25" -> num(spin), "seed" -> a.seed.toString, "cores" -> cpus.toString,
      "ops_failed_frac" -> num(if (r.attempted > 0) r.failed.toDouble / r.attempted else 0.0),
      "workload" -> s""""${a.workload}"""", "size" -> s""""$size"""", "trace" -> a.trace.toString))
      .toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    spark.stop()
    println(detail)
    println(s"""{"correct":${r.failed == 0 && r.attempted > 0},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":{$metrics}}""")
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0.0" else java.lang.Double.toString(d)
}

/** What a workload run returns: named metric values, extra detail fields
  * (already JSON-encoded), operation counts and the host-noise sample.
  */
final case class RunResult(metrics: Map[String, Double], detail: Map[String, String],
    attempted: Long, failed: Long, spin: Double)

trait Workload {
  def prepare(spark: SparkSession): Unit
  /** Runs the workload's code paths before timing, so that timed
    * repetitions measure the warm JVM rather than class loading, JIT and
    * query compilation; part of set-up.
    */
  def warmUp(spark: SparkSession, traced: Boolean): Unit
  def run(spark: SparkSession, a: Main.Args, pins: Check.Pins): RunResult
  def pin(spark: SparkSession, pins: Check.Pins): String
}

object Window {
  /** Runs `body` once, then again while one more repetition of the last
    * one's length still fits in `seconds`; with the heap-peak window and
    * the spin sampler around it.
    */
  def measure[T](seconds: Int)(body: => T): (Seq[T], Double, Double) = {
    HeapPeak.reset()
    val spin = new SpinSampler
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (out.isEmpty || elapsed + last <= seconds) {
      val r0 = elapsed; out += body; last = elapsed - r0
    }
    val heap = HeapPeak.peakMb()
    (out.toSeq, heap, spin.stop()._1)
  }

  /** Traced runs: the traced repetition (which attaches and detaches the
    * listener), then an untraced one; overhead = traced minus untraced. The
    * JVM still speeds up after the set-up's warm-up, and the untraced
    * repetition runs last, so the overhead is an upper bound.
    */
  def traced[T](traced: => T, untraced: => T): (T, T, Double) = {
    val spin = new SpinSampler
    val t = traced; val u = untraced
    (t, u, spin.stop()._1)
  }
}

/** `warm`: the warm-up crawl (Main.warmUpShape). With `timedCold`, untraced
  * runs skip it and time the JVM's first crawl, as a single spark-submit
  * crawl pays it.
  */
final class CrawlRunner(w: CrawlWorkload, warm: CrawlWorkload, timedCold: Boolean) extends Workload {
  private val legs = w.legEnds.size

  def prepare(spark: SparkSession): Unit = w.prepare(spark)

  def warmUp(spark: SparkSession, traced: Boolean): Unit =
    if (traced || !timedCold) {
      warm.prepare(spark)
      warm.crawl(spark, new Trace(false, ""), SyntheticFetcher)
    }

  private def safeCrawl(spark: SparkSession, trace: Trace, f: graft.fetch.Fetcher): Option[CrawlRep] =
    try Some(w.crawl(spark, trace, f))
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] crawl failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }

  def run(spark: SparkSession, a: Main.Args, pins: Check.Pins): RunResult = {
    val off = new Trace(false, "")
    if (!a.trace) {
      val (reps, heap, spin) = Window.measure(a.seconds)(safeCrawl(spark, off, SyntheticFetcher))
      val ok = reps.flatten
      val c0 = System.nanoTime()
      val (expected, source) = w.expectedDigest(spark, pins)
      val digests = ok.map(r => Check.storeDigest(spark, r.store))
      val wrong = digests.count(_ != expected)
      val checkS = (System.nanoTime() - c0) / 1e9
      val gaps = ok.flatMap(_.gapsS)
      val (tail, tailP) = Stats.tail(gaps)
      RunResult(Map(
        "throughput_per_s" -> Stats.median(ok.map(r => r.urls / r.wallS)),
        "step_p50_s" -> Stats.median(gaps), "step_tail_s" -> tail),
        Map("reps" -> reps.size.toString, "heap_peak_mb" -> Main.num(heap), "walls_s" -> ok.map(_.wallS).mkString("[", ",", "]"),
          "urls" -> ok.headOption.map(_.urls).getOrElse(0L).toString,
          "step_samples" -> gaps.size.toString, "step_tail_pct" -> tailP.toString,
          "steps_s" -> gaps.map(Main.num).mkString("[", ",", "]"),
          "store_bytes" -> ok.headOption.map(_.storeBytes).getOrElse(0L).toString,
          "store_bytes_per_url" -> Main.num(ok.headOption.map(r => r.storeBytes.toDouble / r.urls).getOrElse(0.0)),
          "rounds" -> w.shape.rounds.toString, "seeds" -> w.shape.seeds.toString,
          "expected_from" -> s""""$source"""", "check_s" -> Main.num(checkS),
          "digest" -> s""""${digests.headOption.getOrElse("")}""""),
        reps.size.toLong * legs, (reps.size - ok.size + wrong).toLong * legs, spin)
    } else {
      val trace = new Trace(true, s"${w.name}-${a.seed}")
      val (fetcher, att, fails, busy) = CrawlWorkload.countingFetcher(spark)
      val (rt, ru, spin) = Window.traced(
        { trace.attach(spark.sparkContext); val r = safeCrawl(spark, trace, fetcher); trace.detach(); r },
        safeCrawl(spark, off, SyntheticFetcher))
      val reps = Seq(rt, ru)
      val ok = reps.flatten
      val c0 = System.nanoTime()
      val (expected, _) = w.expectedDigest(spark, pins)
      val wrong = ok.count(r => Check.storeDigest(spark, r.store) != expected)
      val c1 = System.nanoTime()
      val (layer, layerDetail) = rt.map(b => w.layerMetrics(spark, trace, b, att.value, fails.value, busy.value / 1e9))
        .getOrElse((Map.empty[String, Double], Map.empty[String, String]))
      val c2 = System.nanoTime()
      val (overhead, other, spark_) = TraceReport.summarize(trace, "crawl", rt.map(_.wallS), ru.map(_.wallS))
      TraceReport.write(trace, w.name, a.seed)
      RunResult(layer ++ spark_ ++ Map("trace.overhead_s" -> overhead, "driver.other_s" -> other),
        layerDetail ++ Map("reps" -> "2", "walls_s" -> reps.map(_.map(r => Main.num(r.wallS)).getOrElse("null")).mkString("[", ",", "]"),
          "check_s" -> Main.num((c1 - c0) / 1e9), "layer_s" -> Main.num((c2 - c1) / 1e9)), reps.size.toLong * legs, (reps.size - ok.size + wrong).toLong * legs, spin)
    }
  }

  /** The seed's digest from an uninterrupted Spark crawl, required to equal
    * the sequential oracle's.
    */
  def pin(spark: SparkSession, pins: Check.Pins): String = {
    val uninterrupted = w.uninterruptedDigest(spark)
    val oracle = w.oracleDigest(spark)
    require(uninterrupted == oracle, s"uninterrupted crawl $uninterrupted != oracle $oracle")
    s"""{"pin":"crawl","digests":{"${w.seed}":"$uninterrupted"}}"""
  }
}

object CrawlRunner {
  /** Oracle digests of many seeds at once (parallel; no Spark crawl). */
  def pinOracle(spark: SparkSession, make: Long => CrawlWorkload, seeds: Seq[Long], threads: Int): String = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val all = scala.concurrent.Future.sequence(seeds.map(s => scala.concurrent.Future(s -> make(s).oracleDigest(spark))))
      scala.concurrent.Await.result(all, scala.concurrent.duration.Duration.Inf)
        .map { case (s, d) => s""""$s":"$d"""" }.mkString("""{"pin":"crawl","digests":{""", ",", "}}")
    } finally pool.shutdown()
  }
}

final class BatteryRunner(w: BatteryWorkload) extends Workload {
  /** Concurrent analysts: each query is mostly driver-side planning and
    * scheduling, so one client leaves the cores idle, while more than two
    * put more busy threads than cores on the host and the walls measure
    * its scheduler.
    */
  val Clients = 2

  def prepare(spark: SparkSession): Unit = w.prepare(spark)

  /** Untraced runs time the battery's first pass, as a fresh analyst
    * session pays it (set-up already ran the warm-up queries and index
    * pre-build). Traced runs first make one untraced pass, so that the
    * traced and untraced passes they compare are both warm.
    */
  def warmUp(spark: SparkSession, traced: Boolean): Unit =
    if (traced) w.pass(spark, new Trace(false, ""), Clients)

  /** (pass wall seconds, per-query runs). */
  private def timedPass(spark: SparkSession, trace: Trace): (Double, Seq[QueryRun]) = {
    val t0 = System.nanoTime()
    val r = w.pass(spark, trace, Clients)
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** A run that threw or whose result differs from the pinned, oracle-checked one. */
  private def wrong(pins: Check.Pins)(r: QueryRun): Boolean =
    r.result.isEmpty || pins.query(w.dataset, r.name) != r.result

  def run(spark: SparkSession, a: Main.Args, pins: Check.Pins): RunResult = {
    val off = new Trace(false, "")
    if (!a.trace) {
      val (passes, heap, spin) = Window.measure(a.seconds)(timedPass(spark, off))
      val runs = passes.flatMap(_._2)
      val walls = w.names.map(q => Stats.median(runs.filter(_.name == q).map(_.wallS)))
      val (tail, tailP) = Stats.tail(walls)
      val bad = runs.filter(wrong(pins))
      val batteryS = Stats.median(passes.map(_._1))
      RunResult(Map(
        "throughput_per_s" -> w.names.size / batteryS,
        "step_p50_s" -> Stats.median(walls), "step_tail_s" -> tail),
        Map("passes" -> passes.size.toString, "heap_peak_mb" -> Main.num(heap), "battery_s" -> Main.num(batteryS),
          "clients" -> Clients.toString,
          "pass_walls_s" -> passes.map(p => Main.num(p._1)).mkString("[", ",", "]"),
          "query_walls_s" -> w.names.zip(walls).sortBy(_._1)
            .map { case (q, t) => s""""$q":${Main.num(t)}""" }.mkString("{", ",", "}"),
          "step_samples" -> walls.size.toString, "step_tail_pct" -> tailP.toString,
          "wrong" -> bad.map(_.name).distinct.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")),
        runs.size.toLong, bad.size.toLong, spin)
    } else {
      val trace = new Trace(true, s"query-battery-${a.seed}")
      var drops = Map.empty[String, Double]
      val (pt, pu, spin) = Window.traced({
        Guard.awaitLedgerQuiescent(); Guard.drainDropLedgerDetailed()
        trace.attach(spark.sparkContext)
        val p = timedPass(spark, trace)
        Guard.awaitLedgerQuiescent()
        trace.detach()
        drops = Guard.drainDropLedgerDetailed().groupBy(_.label)
          .map { case (l, rs) => s"guard.drop_frac.$l" -> rs.map(_.fraction).max }
        p
      }, timedPass(spark, off))
      val passes = Seq(pt, pu)
      val runs = passes.flatMap(_._2)
      val (overhead, other, sparkM) = TraceReport.summarize(trace, "battery", Some(pt._1), Some(pu._1))
      TraceReport.write(trace, "query-battery", a.seed)
      RunResult(pt._2.map(r => s"query.${r.name}_s" -> r.wallS).toMap ++ drops ++ sparkM ++
        Map("trace.overhead_s" -> overhead, "driver.other_s" -> other),
        Map("passes" -> "2", "pass_walls_s" -> passes.map(p => Main.num(p._1)).mkString("[", ",", "]")),
        runs.size.toLong, runs.count(wrong(pins)).toLong, spin)
    }
  }

  def pin(spark: SparkSession, pins: Check.Pins): String =
    w.results(spark).map { case (q, (rows, hash)) => s""""$q":{"rows":$rows,"hash":"$hash"}""" }
      .mkString("""{"pin":"battery","queries":{""", ",", "}}")
}
