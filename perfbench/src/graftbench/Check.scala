package graftbench

import graft.core.{CrawlLogEntry, Span}
import graft.oracle.SequentialOracle
import graft.snapshot.SnapshotStore
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Output checks. A crawl is summarized by an order-sensitive digest of
  * its committed `crawl_log`, `seen` (schedule order) and `docs` span
  * sequences; a query result by its row count and an order-free value
  * hash. Both are sums of per-row xxhash64 values (as decimals, so they
  * cannot overflow); the row's `seq` makes the crawl digests order-sensitive.
  */
object Check {
  val LogCols = Seq("round", "seq", "url", "canonUrl", "host", "status", "attempts")
  val SeenCols = Seq("seq", "canonUrl")
  val DocCols = Seq("seq", "doc_id", "spans")

  private def part(df: DataFrame, cols: Seq[String]): String = {
    val r = df.select(count(lit(1)), sum(xxhash64(cols.map(df.col): _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  private def combine(log: String, seen: String, docs: String) = s"log=$log;seen=$seen;docs=$docs"

  def storeDigest(spark: SparkSession, store: SnapshotStore): String = {
    def t(name: String) = store.read(spark, name).getOrElse(
      throw new IllegalStateException(s"store has no committed $name table"))
    combine(part(t("crawl_log"), LogCols), part(t("seen"), SeenCols), part(t("docs"), DocCols))
  }

  /** Digest of the sequential reference crawl of the same seeds: the
    * uninterrupted, single-threaded semantics the engine must reproduce.
    */
  def oracleDigest(spark: SparkSession, r: SequentialOracle.OracleResult): String = {
    import spark.implicits._
    val log = r.crawlLog.toDS().toDF()
    val seen = r.seen.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("seq", "canonUrl")
    val docs = r.docs.map(d => (d.seq, d.doc.doc_id, d.doc.spans)).toDF("seq", "doc_id", "spans")
    combine(part(log, LogCols), part(seen, SeenCols), part(docs, DocCols))
  }

  /** Aggregates giving (rows, value hash) of a query result, columns in
    * name order; floating columns are rounded to 6 decimals so last-bit
    * summation order noise cannot flip the hash.
    */
  private def hashAggs(df: DataFrame): Seq[Column] = {
    val cols: Seq[Column] = df.columns.sorted.toSeq.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => round(df.col(c), 6)
        case _                      => df.col(c)
      }
    }
    Seq(count(lit(1)).as("rows"), sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("hash"))
  }

  private def rowsAndHash(r: Row): (Long, String) =
    (r.getLong(0), String.valueOf(Option(r.get(1)).getOrElse(0)))

  def resultHash(df: DataFrame): (Long, String) = rowsAndHash(df.select(hashAggs(df): _*).head())

  /** The same (rows, hash), gathered while `action` consumes the frame,
    * so a query is executed once for both its timing and its check.
    */
  def observedHash(df: DataFrame)(action: DataFrame => Unit): (Long, String) = {
    val ob = Observation()
    val aggs = hashAggs(df)
    action(df.observe(ob, aggs.head, aggs.tail: _*))
    rowsAndHash(Await.result(ob.future, Duration(120, "s")))
  }

  /** Pinned expectations (perfbench/pins.json). */
  final class Pins(path: String) {
    private val root: JsonNode =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) new ObjectMapper().readTree(new java.io.File(path))
      else new ObjectMapper().createObjectNode()
    private def at(keys: String*): Option[JsonNode] =
      keys.foldLeft(Option(root))((n, k) => n.flatMap(x => Option(x.get(k))))
    def crawl(workload: String, size: String, seed: Long): Option[String] =
      at(workload, size, seed.toString).map(_.asText())
    def query(dataset: String, name: String): Option[(Long, String)] =
      at("query-battery", dataset, name).map(n => (n.get("rows").asLong(), n.get("hash").asText()))
  }
}
