package graft.tools

import graft.frontier.DistBloomBank
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured bloom-bank sizing point (SURVEY §7.4 item 3, BASELINE.md row):
  * builds a `width × (keys/width)` bank at the production FPP target with
  * load factor 1.0, then reports the realized per-filter bytes, bits/key,
  * and the MEASURED false-positive rate over fresh probes, plus build and
  * probe throughput. Defaults exercise a 10^8-key bank (width 32) with
  * 10^7 probes — the measured anchor for the analytical 10^10 row
  * (identical construction, BloomFilter.create, scales linearly in keys:
  * 9.585 bits/key at 1% → ~11.2 GiB over width 4096, ~2.9 MB per
  * 2.44M-key filter). The build buffers up to keys/width urls per task to
  * size each filter to its pid's count, so give the JVM heap for that.
  *
  * Usage: BloomSizing [keys] [width] [fpp] [probes]
  */
object BloomSizing {
  def main(args: Array[String]): Unit = {
    val keys = args.lift(0).map(_.toLong).getOrElse(100000000L)
    val width = args.lift(1).map(_.toInt).getOrElse(32)
    val fpp = args.lift(2).map(_.toDouble).getOrElse(0.01)
    val probes = args.lift(3).map(_.toLong).getOrElse(10000000L)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bloom-sizing")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val perFilter = keys / width
    val ins = spark.range(keys)
      .select(concat(lit("https://sizing.example.org/post/"), col("id")).as("canon"))
    val t0 = System.nanoTime()
    val bank = DistBloomBank.buildRound(ins, "canon", width, perFilter, fpp).persist()
    val blobBytes = bank.rdd.map(_._2.length.toLong).collect().sorted
    val buildSec = (System.nanoTime() - t0) / 1e9
    val totalBytes = blobBytes.sum
    val bitsPerKey = totalBytes * 8.0 / keys

    val fresh = spark.range(probes)
      .select(concat(lit("https://sizing.example.org/NEW/"), col("id")).as("canon"))
    val t1 = System.nanoTime()
    val fp = DistBloomBank.probe(fresh, "canon", bank, "maybe")
      .filter(col("maybe")).count()
    val probeSec = (System.nanoTime() - t1) / 1e9
    val measured = fp.toDouble / probes

    println(f"""{"metric":"bloom_bank_sizing","keys":$keys,"width":$width,""" +
      f""""per_filter_expected":$perFilter,"fpp_target":$fpp,""" +
      f""""measured_fpp":$measured%.5f,"false_positives":$fp,"probes":$probes,""" +
      f""""bank_mb_total":${totalBytes / 1048576.0}%.1f,""" +
      f""""filter_mb_min":${blobBytes.head / 1048576.0}%.2f,""" +
      f""""filter_mb_max":${blobBytes.last / 1048576.0}%.2f,""" +
      f""""bits_per_key":$bitsPerKey%.3f,"optimal_bits_per_key":${-math.log(fpp) / (math.log(2) * math.log(2))}%.3f,""" +
      f""""build_sec":$buildSec%.1f,"probe_sec":$probeSec%.1f,""" +
      f""""probe_urls_per_sec":${probes / probeSec}%.0f,"cores":$cpus}""")
    spark.stop()
  }
}
