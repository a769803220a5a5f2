package graft.snapshot

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Minimal snapshot-versioned table layer over Parquet with Iceberg-like
  * commit semantics (no Iceberg runtime jar exists offline — SURVEY §7.0).
  *
  * Layout under `root`:
  *   data/<table>/round=<r>/part-*.parquet     (immutable per-round data)
  *   blooms/seen-<r>.bloom                     (seen-set bloom bank)
  *   _manifests/manifest-<r>.json              (the commit record)
  *
  * A round is COMMITTED iff its manifest file exists; the manifest is
  * written to a temp name and atomically renamed, so readers never observe
  * a partial round (the reference's analogue is timestamped analysis
  * snapshots with latest-by-name reads,
  * /root/reference/crawler/exporters/analysis_store.py:60-130). Atomic
  * rename holds on local FS / HDFS; an object-store deployment would swap
  * in a conditional-put committer behind this same interface.
  *
  * Readers union only committed rounds → time-travel = pass maxRound.
  * Resume = max committed round + 1 (north-rule resumable checkpoints).
  */
final class SnapshotStore(val root: String) {

  private def manifestDir = Paths.get(root, "_manifests")
  private def manifestPath(round: Int) = manifestDir.resolve(f"manifest-$round%06d.json")
  def tablePath(table: String, round: Int): String = s"$root/data/$table/round=$round"
  def bloomPath(round: Int): String = s"$root/blooms/seen-$round.bloom"

  def committedRounds(): Seq[Int] = {
    if (!Files.exists(manifestDir)) return Seq.empty
    val listing = Files.list(manifestDir) // holds a directory handle until closed
    try listing.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("manifest-") && s.endsWith(".json") =>
        s.stripPrefix("manifest-").stripSuffix(".json").toInt }
      .toVector.sorted
    finally listing.close()
  }

  def latestRound(): Option[Int] = committedRounds().lastOption

  /** Write each table's round partition, then atomically commit the
    * manifest referencing all of them (all-or-nothing across tables —
    * SURVEY §7.4.5). `knownCounts` are rows counted by the caller on
    * already-cached data; tables without one get -1 (never re-read parquet
    * just for a manifest statistic).
    *
    * The per-table writes run CONCURRENTLY from a small driver thread pool
    * (guide §2.6): most round tables are single-file writes whose lone task
    * would otherwise hold the whole cluster idle in sequence — overlapped,
    * they back-fill executors under the fat docs write. The manifest is
    * written only after every write completes (and any failure propagates
    * before it), so commit atomicity is unchanged. A failed write does not
    * cut the others short: commit awaits every write before it rethrows the
    * first failure, so nothing still writes into `round=<r>` once it has
    * thrown (a retry in the same process would race it).
    */
  def commit(round: Int, tables: Map[String, DataFrame],
      knownCounts: Map[String, Long] = Map.empty, metricsJson: String = "{}"): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(tables.size, 6)))
    try {
      val pending = tables.toSeq.map { case (name, df) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = df.write.mode(SaveMode.Overwrite).parquet(tablePath(name, round))
        })
      }
      pending.map(f => scala.util.Try(f.get())).collectFirst {
        case scala.util.Failure(e: java.util.concurrent.ExecutionException) => throw e.getCause
      }
    } finally pool.shutdown()
    val entries = tables.keys.map { name =>
      s""""$name":{"path":"${tablePath(name, round)}","rows":${knownCounts.getOrElse(name, -1L)}}"""
    }.mkString(",")
    val json = s"""{"round":$round,"committed_at_round":$round,"tables":{$entries},"metrics":$metricsJson}"""
    Files.createDirectories(manifestDir)
    val tmp = manifestDir.resolve(s".manifest-$round.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(round), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Raw manifest JSON of a committed round (tiny; driver-side parse). */
  def manifestJson(round: Int): Option[String] = {
    val p = manifestPath(round)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** A metric recorded in the round's manifest `metrics` object. */
  def manifestMetric(round: Int, key: String): Option[Long] =
    manifestJson(round).flatMap { json =>
      s""""$key"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
    }

  /** A table across committed rounds in [minRound, maxRound] (time
    * travel), read as one scan over the rounds' directories; rounds outside
    * the range are never read.
    */
  def read(spark: SparkSession, table: String, maxRound: Int = Int.MaxValue,
      minRound: Int = 0): Option[DataFrame] = {
    val rounds = roundsOf(table, minRound, maxRound)
    if (rounds.isEmpty) None
    else Some(spark.read.parquet(rounds.map(tablePath(table, _)): _*))
  }

  /** Committed rounds in [minRound, maxRound] that wrote `table`. */
  private def roundsOf(table: String, minRound: Int, maxRound: Int): Seq[Int] =
    committedRounds().filter(r => r >= minRound && r <= maxRound)
      .filter(r => Files.exists(Paths.get(tablePath(table, r))))

  /** Latest-round-wins fold of a DELTA table over the committed rounds in
    * [minRound, maxRound]: a round commits only the keys it touched, or a
    * base holding every key; per key, the row from the highest round wins.
    * Reading from the latest base (minRound) bounds the fold, so per-round
    * commit I/O stays O(|touched keys|) between bases (the Iceberg
    * analogue is a merge-on-read equality-delete fold). The rounds are
    * read as one scan, each row tagged with its round from its file path,
    * and folded by one window on the key: its exchange is the one a join
    * or repartition on the key would plan anyway, so over a state too big
    * to broadcast the fold adds no shuffle. A one-round range is a plain
    * read.
    */
  def readFoldedLatest(spark: SparkSession, table: String, keyCols: Seq[String],
      maxRound: Int = Int.MaxValue, minRound: Int = 0): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, regexp_extract, row_number}
    val rounds = roundsOf(table, minRound, maxRound)
    if (rounds.size <= 1) return rounds.headOption.map(r => spark.read.parquet(tablePath(table, r)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("__r").desc)
    Some(spark.read.parquet(rounds.map(tablePath(table, _)): _*)
      .withColumn("__r", regexp_extract(col("_metadata.file_path"), "round=(\\d+)/[^/]+$", 1).cast("int"))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn", "__r"))
  }

  /** Bulk load with provenance: the reference dashboard tags every loaded
    * row with its source file (`_source_file`, dashboard/app.py:32-55).
    * Spark-native equivalent: `input_file_name()` evaluated inside the
    * scan — zero-cost, partition-local, no driver-side file loop.
    */
  def readTagged(spark: SparkSession, table: String,
      maxRound: Int = Int.MaxValue): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{element_at, input_file_name, split}
    read(spark, table, maxRound).map(_.withColumn("_source_file",
      element_at(split(input_file_name(), "/"), -1)))
  }
}
