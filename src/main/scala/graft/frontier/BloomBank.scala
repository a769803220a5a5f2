package graft.frontier

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, BooleanType, IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets

/** Partitioned bloom-filter bank over the URL-seen set (north rule: the
  * scale-out realization of the reference's in-memory `seen` dict,
  * /root/reference/crawler/utils/url_deduplicator.py:53-62).
  *
  * The seen set is routed the way the exact seen chain is: Spark's hash
  * partitioning of the canonical URL into `width` partitions, so a url's
  * pid is pmod(murmur3(canon), width). A FILTER SET holds at most one
  * bloom filter per pid, each sized to the keys it is built from; a bank
  * is the co-partitioned union of its filter sets, so a pid may hold
  * several filters and mightContain is true iff any of them says so.
  * Filters are never merged, so sets of different sizes can share a bank.
  *
  * DISTRIBUTED LAYOUT (nothing bank-sized is ever collected or broadcast):
  * the bank lives as an `RDD[(pid, filterBytes)]` of `width` partitions,
  * pid i's blobs in partition i, and never moves:
  *   - routing: urls reach their pid through a Catalyst exchange
  *     (`repartition(width, canon)` — an explicit partition count, which
  *     adaptive execution never coalesces), so they shuffle as Tungsten
  *     rows; only the filter pass itself is RDD code, because Catalyst's
  *     `might_contain` takes one constant filter, not a filter per
  *     partition;
  *   - build: one filter per routed partition, emitted in that partition,
  *     so a blob is born where its pid's urls were routed (no RDD shuffle);
  *   - probe: `zipPartitions` probes each routed candidate partition
  *     against the same partition of the bank, which stays in place;
  *   - union: the sets are zipped by partition index — zero shuffle, zero
  *     CPU;
  *   - persistence: one parquet table of (pid, filter, width) rows per
  *     round. A serialized filter records its own bit and hash counts; the
  *     width column makes load() probe at the width the filters were BUILT
  *     with, since probing saved filters at a different modulus would turn
  *     bloom "false" — which the dedup tier treats as authoritative
  *     definitely-new — into silent re-crawls.
  *
  * CORRECTNESS: the bloom is a PRE-FILTER ONLY. `mightContain = false` is
  * authoritative (definitely new); `true` candidates are confirmed against
  * the exact seen table with a left-anti join. False positives therefore
  * cost an extra join probe, never a dropped URL — URL-seen parity is
  * preserved by construction (SURVEY §7.4.3).
  */
object DistBloomBank {

  /** A bank: its width plus (pid, serialized filter) rows in `width`
    * partitions, pid i in partition i. All probes route at `width`, never
    * at the current session config.
    */
  final case class Bank(width: Int, rdd: RDD[(Int, Array[Byte])]) {
    /** MEMORY_AND_DISK: an evicted MEMORY_ONLY bank partition would
      * recompute through a seen-chain scan — blobs are small, disk is cheap.
      */
    def persist(): Bank = { rdd.persist(StorageLevel.MEMORY_AND_DISK); this }
    def unpersist(): Bank = { rdd.unpersist(); this }
    def count(): Long = rdd.count()
  }

  private def ser(f: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream(); f.writeTo(bos); bos.toByteArray
  }
  private def deser(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(b))

  /** `df` hash-partitioned on `canonCol` into exactly `width` partitions:
    * partition i holds the rows of pid i.
    */
  private def routed(df: DataFrame, canonCol: String, width: Int): DataFrame =
    df.repartition(width, col(canonCol))

  /** Build one filter set from a (canon) DataFrame: route urls to their
    * pid's partition and build exactly one filter per non-empty pid there,
    * sized to the urls its pid holds, capped at `maxPerFilter`. The build
    * buffers up to `maxPerFilter` urls to count them, so a filter matches
    * its own load however unevenly the urls spread over pids; past the cap
    * the filter is sized at the cap and the rest stream in. Pids with no
    * urls emit nothing (probe treats a missing blob as mightContain =
    * false, which is exact: nothing was inserted).
    */
  def buildRound(df: DataFrame, canonCol: String, width: Int, maxPerFilter: Long,
      fpp: Double): Bank = {
    val f = fpp; val cap = maxPerFilter
    Bank(width, routed(df.select(canonCol), canonCol, width).rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val head = scala.collection.mutable.ArrayBuffer.empty[String]
        while (head.size < cap && it.hasNext) head += it.next().getString(0)
        if (head.isEmpty) Iterator.empty
        else {
          val bf = BloomFilter.create(head.size.toLong, f)
          head.foreach(bf.putString)
          it.foreach(r => bf.putString(r.getString(0)))
          Iterator((pid, ser(bf)))
        }
      })
  }

  /** The bank of several filter sets of one width: the sets zipped by
    * partition index, narrow on every set (no shuffle, no merge).
    */
  def union(sets: Seq[Bank]): Bank = {
    require(sets.nonEmpty && sets.forall(b => b.width == sets.head.width &&
      b.rdd.getNumPartitions == b.width), s"filter sets must share one width in as many " +
      s"partitions: ${sets.map(b => s"${b.width}/${b.rdd.getNumPartitions}").mkString(",")}")
    Bank(sets.head.width,
      sets.map(_.rdd).reduce(_.zipPartitions(_, preservesPartitioning = true)(_ ++ _)))
  }

  /** The accumulator a probe adds 1 to per filter pass it runs (a read of
    * probed rows from a cache adds nothing). */
  val ProbePasses = "graft.bloom.probe_passes"

  /** Adds boolean column `flag` = bank.mightContain(canon). Only the
    * candidate rows shuffle (routed at the BANK's width, regardless of
    * session config); each task probes its partition's blobs in place.
    */
  def probe(cands: DataFrame, canonCol: String, bank: Bank, flag: String): DataFrame = {
    val schema = cands.schema
    val idx = schema.fieldIndex(canonCol)
    val passes = cands.sparkSession.sparkContext.longAccumulator(ProbePasses)
    val probed = routed(cands, canonCol, bank.width).rdd
      .zipPartitions(bank.rdd, preservesPartitioning = false) { (cit, bit) =>
        passes.add(1L)
        val filters = bit.map(kv => deser(kv._2)).toArray
        cit.map { r =>
          // encoded once for all of the pid's filters (as mightContainString does)
          val url = r.getString(idx).getBytes(StandardCharsets.UTF_8)
          Row.fromSeq(r.toSeq :+ filters.exists(_.mightContainBinary(url)))
        }
      }
    cands.sparkSession.createDataFrame(probed,
      StructType(schema.fields :+ StructField(flag, BooleanType, nullable = false)))
  }

  private val saveSchema = StructType(Seq(
    StructField("pid", IntegerType, nullable = false),
    StructField("filter", BinaryType, nullable = false),
    StructField("width", IntegerType, nullable = false)))

  /** Persist as a parquet table of (pid, filter, width) rows — distributed
    * write; the width column makes the table self-describing for load().
    */
  def save(spark: SparkSession, bank: Bank, path: String): Unit =
    spark.createDataFrame(bank.rdd.map { case (pid, b) => Row(pid, b, bank.width) }, saveSchema)
      .write.mode("overwrite").parquet(path)

  /** Load a saved bank at ITS OWN recorded width (never the current
    * config's: filters cannot be re-hashed, and probing them at a different
    * modulus silently re-crawls seen URLs). A bank saved without a width
    * column, or with no rows, returns None.
    */
  def load(spark: SparkSession, path: String): Option[Bank] = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) return None
    val df = spark.read.parquet(path)
    if (!Set("pid", "filter", "width").subsetOf(df.schema.fieldNames.toSet)) return None
    val widths = df.select("width").distinct().collect().map(_.getInt(0))
    if (widths.isEmpty) return None // empty bank: nothing was ever inserted
    require(widths.length == 1, s"corrupt bank at $path: mixed widths ${widths.mkString(",")}")
    val w = widths(0)
    Some(Bank(w, df.select("pid", "filter").rdd
      .map(r => (r.getInt(0), r.getAs[Array[Byte]](1)))
      .partitionBy(new HashPartitioner(w))))
  }
}
