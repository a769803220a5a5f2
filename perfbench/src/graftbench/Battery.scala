package graftbench

import graft.SparkEntry
import graft.ops.Guard
import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** The 50 contract queries over the shipped tables, each
  * materialized in full through the `noop` sink, in name order as in
  * graft.Bench. The tables are fixed, so the workload takes no seed.
  */
final class BatteryWorkload(dataDir: Path, val dataset: String, only: Seq[String]) {

  val names: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filter(q => only.isEmpty || only.contains(q))

  private val tables = dataDir.toString

  /** Session warm-up and the q33/q44 index pre-build (table preparation,
    * as in graft.Bench).
    */
  def prepare(spark: SparkSession): Unit = {
    spark.read.parquet(s"$tables/lineitem.parquet").count()
    for (q <- Seq("q33_lsh_topk", "q44_ivf_topk") if SparkEntry.queries.contains(q))
      SparkEntry.queries(q)(spark, tables).count()
  }

  /** One pass: `clients` threads each take the next query in order until
    * none is left (a closed loop). Each query is materialized
    * through the noop sink while its row count and value hash are gathered
    * on the way (Check.observedHash).
    */
  def pass(spark: SparkSession, trace: Trace, clients: Int): Seq[QueryRun] =
    trace.span("battery") {
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](names.asJava)
      val out = new java.util.concurrent.ConcurrentHashMap[String, QueryRun]()
      val threads = (1 to clients).map(_ => new Thread(() => {
        var q = queue.poll()
        while (q != null) { out.put(q, runOne(spark, trace, q)); q = queue.poll() }
      }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      names.map(out.get)
    }

  private def runOne(spark: SparkSession, trace: Trace, q: String): QueryRun = {
    val t0 = System.nanoTime()
    val result = trace.span(s"query.$q") {
      Guard.withQueryTag(q) {
        try Some(Check.observedHash(SparkEntry.queries(q)(spark, tables))(
          _.write.format("noop").mode("overwrite").save()))
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $q failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
        }
      }
    }
    QueryRun(q, (System.nanoTime() - t0) / 1e9, result)
  }

  /** (rows, hash) of every query, for pinning. */
  def results(spark: SparkSession): Seq[(String, (Long, String))] =
    names.sorted.map(q => q -> Check.resultHash(SparkEntry.queries(q)(spark, tables)))
}

/** One query execution: wall seconds and (rows, hash), None if it threw. */
final case class QueryRun(name: String, wallS: Double, result: Option[(Long, String)])

object Stats {
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of p50, p80, p90, p95, p99 that leaves at least ten
    * samples beyond it (nearest-rank); the maximum when fewer than eleven
    * samples exist.
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 0)
    else {
      val ps = Seq(99, 95, 90, 80, 50)
      ps.find(p => n - math.ceil(p / 100.0 * n).toInt >= 10) match {
        case Some(p) => (s(math.ceil(p / 100.0 * n).toInt - 1), p)
        case None    => (s.last, 100)
      }
    }
  }
}
