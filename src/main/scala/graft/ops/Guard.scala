package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CollectMetrics, LogicalPlan}
import org.apache.spark.sql.functions._

/** Visibility and sizing for the recall guards in the dedup/ANN family.
  *
  * Every bucketed near-dup operator here rails its quadratic candidate
  * expansion with a cap (`maxBucket` on LSH/SimHash/embedding buckets,
  * `maxDf` on inverted-index shingles). The caps are what make the plans
  * survive skew at 100 TB — but a cap that silently drops the AVERAGE
  * bucket (knobs undersized for the corpus) collapses recall to ~0 while
  * still returning a plausible-looking result. This module makes that
  * failure mode (a) observable — every guarded run lands in a session drop
  * ledger with its dropped row/bucket counts, piggybacked on the guard's
  * own bucket-count aggregation via `Dataset.observe` (zero extra jobs;
  * a run whose metrics AQE pruned is recounted on the caller's thread at
  * drain time) — and (b) avoidable — `autoPlanes` derives LSH geometry
  * from the corpus size, and `warnIfUndersized` logs loudly (and can
  * assert) when a fixed geometry cannot hold the corpus under its cap.
  */
object Guard {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Guard")
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  private def dropAggs(cap: Int) = Seq(
    coalesce(sum(col("count")), lit(0L)).as("total_rows"),
    coalesce(sum(when(col("count") > cap, col("count")).otherwise(0L)), lit(0L))
      .as("dropped_rows"),
    count(lit(1)).as("buckets"),
    coalesce(sum(when(col("count") > cap, 1L).otherwise(0L)), lit(0L))
      .as("dropped_buckets"))

  /** Attach the drop metrics to the guard's bucket-count aggregation
    * (`capBuckets`' `groupBy(keys).count()`) under a unique
    * `graft_guard_<label>_<n>` name. One CollectMetrics node on an existing
    * tiny intermediate — no extra job, no extra shuffle. A once-per-session
    * QueryExecutionListener reads it after whatever action the CALLER
    * eventually runs and records it in the drop ledger.
    */
  private def observeDrops(bucketCounts: DataFrame, cap: Int, label: String): DataFrame = {
    ensureListener(bucketCounts.sparkSession)
    val name = s"graft_guard_${label}_${ids.incrementAndGet()}"
    putTag(name)
    val aggs = dropAggs(cap)
    bucketCounts.observe(name, aggs.head, aggs.tail: _*)
  }

  /** The degenerate-bucket guard every near-dup operator shares: keeps the
    * rows of `keyed` whose `keys` bucket holds at most `maxBucket` rows
    * (a hot bucket — empty or boilerplate docs — would make the pair
    * self-join O(bucket²)). The bucket-count aggregation carries the drop
    * metrics (`observeDrops`). Capless runs (`maxBucket = Int.MaxValue`)
    * return `keyed` untouched: nothing can drop, so the count and join
    * would be pure cost, and the ledger records nothing.
    */
  private[ops] def capBuckets(keyed: DataFrame, keys: Seq[String], maxBucket: Int,
      label: String): DataFrame =
    if (maxBucket == Int.MaxValue) keyed
    else {
      val small = observeDrops(keyed.groupBy(keys.map(col): _*).count(), maxBucket, label)
        .filter(col("count") <= maxBucket).select(keys.map(col): _*)
      keyed.join(small, keys)
    }

  // ---- the drop ledger: session listener + caller-thread recount -------------

  /** One ledger row = one observed guard invocation (keyed by the unique
    * metric name, so two runs of the SAME op — or two concurrent sessions
    * hitting the same label — never merge). A run over an empty input has
    * `totalRows == 0` and fraction 0.0; a run that dropped every bucket has
    * fraction 1.0.
    */
  final case class DropRecord(label: String, queryTag: String,
      totalRows: Long, droppedRows: Long, buckets: Long, droppedBuckets: Long) {
    def fraction: Double =
      if (totalRows == 0L) 0.0 else droppedRows.toDouble / totalRows
  }

  /** Per-observation drop stats since the last drain, keyed by the unique
    * metric name (`graft_guard_<label>_<n>`).
    */
  private val ledger =
    new java.util.concurrent.ConcurrentHashMap[String, DropRecord]()
  private val LedgerMax = 4096

  /** A guard whose metrics AQE pruned from the executed plan: its
    * bucket-count aggregation as a plan, recounted by the next drain.
    */
  private final case class Pruned(spark: org.apache.spark.sql.classic.SparkSession,
      counts: LogicalPlan, tag: String)
  private val pruned = new java.util.concurrent.ConcurrentHashMap[String, Pruned]()

  /** Attach-time query attribution: benches/pipelines set a tag around
    * each query they run (`withQueryTag`); `observeDrops` captures it
    * SYNCHRONOUSLY on the attaching thread (plan construction), so the
    * async listener delivery later cannot mis-attribute an observation to
    * whatever query happens to be running at delivery time.
    */
  private val queryTag = new ThreadLocal[String] { override def initialValue(): String = "" }
  private val tagOf = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Tags are best-effort attribution — bounded even if nothing ever
    * drains (rows are reclaimed on drain; empty tags aren't stored).
    */
  private def putTag(name: String): Unit = {
    val t = queryTag.get()
    if (t.nonEmpty && tagOf.size() < 2 * LedgerMax) tagOf.put(name, t)
  }

  def withQueryTag[A](tag: String)(body: => A): A = {
    val prev = queryTag.get()
    queryTag.set(tag)
    try body finally queryTag.set(prev)
  }

  /** Read-and-clear the drop ledger, collapsed to the lossiest observation
    * per guard label (the alerting view). Per-observation attribution:
    * `drainDropLedgerDetailed`. The QueryExecutionListener bus is ASYNC —
    * call `awaitLedgerQuiescent` first when reading right after an action.
    */
  def drainDropLedger(): Map[String, Double] =
    drainDropLedgerDetailed()
      .groupBy(_.label)
      .map { case (lbl, rs) => lbl -> rs.map(_.fraction).max }

  /** Read-and-clear the drop ledger: every observation since the last
    * drain, each with its label and the query tag captured at attach time.
    * Guards whose metrics were pruned are recounted first, here on the
    * caller's thread: one job per pruned guard, re-running its
    * bucket-count aggregation from FULL lineage (a re-scan/re-shuffle of
    * the operator's input; the counts describe the run only because every
    * graft op's lineage is deterministic).
    */
  def drainDropLedgerDetailed(): Seq[DropRecord] = {
    val pit = pruned.entrySet().iterator()
    while (pit.hasNext) {
      val e = pit.next()
      pit.remove()
      val p = e.getValue
      if (!ledger.containsKey(e.getKey))
        try {
          val row = new org.apache.spark.sql.classic.Dataset[Row](p.spark, p.counts,
            org.apache.spark.sql.Encoders.row(p.counts.schema)).head()
          record(e.getKey, p.tag, row)
        } catch {
          case scala.util.control.NonFatal(ex) =>
            tagOf.remove(e.getKey)
            log.warn(s"[${labelOf(e.getKey)}] could not recount pruned guard metrics", ex)
        }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[DropRecord]
    val it = ledger.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out += e.getValue
      tagOf.remove(e.getKey) // the observation is spent; drop its tag row
      it.remove()
    }
    out.toSeq
  }

  /** Wait until the listener bus has delivered every event posted so far,
    * so every query that has returned is in the ledger (or queued for the
    * drain's recount), however far behind a slow listener keeps the bus.
    */
  def awaitLedgerQuiescent(): Unit = {
    import org.apache.spark.sql.SparkSession
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(s => org.apache.spark.GraftBridge.drainListeners(s.sparkContext))
  }

  /** graft_guard_<label>_<n> → <label> */
  private def labelOf(metricName: String): String =
    metricName.stripPrefix("graft_guard_").replaceAll("_[0-9]+$", "")

  /** Ledger one metrics row (`dropAggs`' four columns); WARN when lossy. */
  private def record(name: String, tag: String, row: Row): Unit = {
    val r = DropRecord(labelOf(name), tag, row.getAs[Long]("total_rows"),
      row.getAs[Long]("dropped_rows"), row.getAs[Long]("buckets"),
      row.getAs[Long]("dropped_buckets"))
    // keyed by the UNIQUE metric name: repeated runs of the same op (and
    // concurrent sessions) stay separate rows; a re-delivery of the same
    // observation (self-join subtrees re-execute the CollectMetrics node)
    // keeps the worst. A never-drained session must not grow the ledger
    // without bound: past the cap, fold into one worst-wins row per label.
    val key = if (ledger.size() < LedgerMax || ledger.containsKey(name)) name
      else s"graft_guard_${r.label}_overflow"
    ledger.merge(key, r, (a, b) => if (b.fraction >= a.fraction) b else a)
    if (r.droppedRows > 0L)
      log.warn(f"[${r.label}${if (tag.isEmpty) "" else s" @$tag"}] recall guard dropped " +
        f"${100.0 * r.fraction}%.1f%% of candidate rows (${r.droppedRows} of " +
        f"${r.totalRows}; ${r.droppedBuckets} of ${r.buckets} buckets over cap) — " +
        "grow the bucket keyspace (planes/blocks) or the cap for this corpus size")
  }

  private val listenedSessions = java.util.Collections.newSetFromMap(
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  /** Register the guard-metrics listener once per session. Reads
    * `qe.observedMetrics` (already materialized by the action — no job),
    * so its cost is O(#metrics) per query; it never runs a job itself.
    */
  def ensureListener(spark: org.apache.spark.sql.SparkSession): Unit =
    if (listenedSessions.add(spark))
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit = {
            val observed = qe.observedMetrics
            observed.foreach { case (name, row) =>
              if (name.startsWith("graft_guard_"))
                record(name, tagOf.getOrDefault(name, ""), row)
            }
            // a guard metric present in the analyzed plan but absent from
            // the observed set means AQE's empty-relation propagation pruned
            // the guarded subtree — the result was EMPTY: every bucket
            // dropped, or an empty input. Keep its bucket-count aggregation
            // for the next drain to recount. distinct: the pair self-joins
            // repeat the guarded subtree, so the same CollectMetrics name
            // appears twice in the analyzed plan
            qe.analyzed.collect {
              case c: CollectMetrics
                  if c.name.startsWith("graft_guard_") && !observed.contains(c.name) => c
            }.distinctBy(_.name).foreach { c =>
              if (!ledger.containsKey(c.name) && pruned.size() < LedgerMax) {
                log.warn(s"[${labelOf(c.name)}] guard metrics were pruned from the " +
                  "executed plan (empty result — all buckets dropped, or empty " +
                  "input); the next drop-ledger drain recounts them from full lineage")
                pruned.putIfAbsent(c.name, Pruned(qe.sparkSession,
                  Aggregate(Nil, c.metrics, c.child), tagOf.getOrDefault(c.name, "")))
              }
            }
          }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })

  /** LSH plane count sized to the corpus: smallest p with expected bucket
    * occupancy n/2^p ≤ targetBucket. Keep targetBucket well under the
    * operator's `maxBucket` (default 1/8th of the usual 10k cap) so skewed
    * buckets still clear the guard; 10^10 vectors at the default target →
    * 23 planes.
    */
  def autoPlanes(corpusSize: Long, targetBucket: Int = 1250,
      minPlanes: Int = 4, maxPlanes: Int = 30): Int = {
    require(corpusSize >= 0, s"corpusSize $corpusSize")
    require(targetBucket > 0, s"targetBucket $targetBucket")
    val need = math.ceil(math.log(math.max(1.0, corpusSize.toDouble / targetBucket))
      / math.log(2.0)).toInt
    math.min(maxPlanes, math.max(minPlanes, need))
  }

  /** Loud check that a fixed bucket keyspace can hold `corpusSize` docs
    * under `maxBucket`: if the AVERAGE bucket (n / keyspace) exceeds the
    * cap, candidate generation is guaranteed to dry up (recall ≈ 0); if it
    * exceeds cap/`headroom`, real-corpus skew makes collapse likely. WARNs
    * at the likely threshold, throws at the guaranteed one (a run that can
    * only return an empty-ish answer should fail, not mislead).
    */
  def warnIfUndersized(label: String, corpusSize: Long, keyspace: Double,
      maxBucket: Int, headroom: Int = 8): Unit = {
    if (corpusSize <= 0) return
    val avgBucket = corpusSize.toDouble / keyspace
    if (avgBucket > maxBucket)
      throw new IllegalArgumentException(
        f"[$label] geometry undersized for corpus: expected average bucket " +
          f"$avgBucket%.0f > maxBucket $maxBucket (corpus $corpusSize over " +
          f"keyspace $keyspace%.0f) — EVERY typical bucket would be dropped " +
          f"and recall would collapse to ~0. Grow the keyspace " +
          f"(planes / hamming blocks) or shard the corpus.")
    else if (avgBucket > maxBucket.toDouble / headroom)
      log.warn(f"[$label] geometry marginal for corpus: expected average " +
        f"bucket $avgBucket%.0f is within ${headroom}x of maxBucket " +
        f"$maxBucket — skewed buckets will be dropped; consider growing " +
        f"the keyspace (corpus $corpusSize over keyspace $keyspace%.0f)")
  }
}
