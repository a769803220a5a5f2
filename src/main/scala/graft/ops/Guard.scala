package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Visibility and sizing for the recall guards in the dedup/ANN family.
  *
  * Every bucketed near-dup operator here rails its quadratic candidate
  * expansion with a cap (`maxBucket` on LSH/SimHash/embedding buckets,
  * `maxDf` on inverted-index shingles). The caps are what make the plans
  * survive skew at 100 TB — but a cap that silently drops the AVERAGE
  * bucket (knobs undersized for the corpus) collapses recall to ~0 while
  * still returning a plausible-looking result. This module makes that
  * failure mode (a) observable — a `GuardObservation` side-channel reports
  * the dropped row/bucket fraction of any run, piggybacked on the guard's
  * own bucket-count aggregation via `Dataset.observe` (zero extra jobs) —
  * and (b) avoidable — `autoPlanes` derives LSH geometry from the corpus
  * size, and `warnIfUndersized` logs loudly (and can assert) when a fixed
  * geometry cannot hold the corpus under its cap.
  */
object Guard {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Guard")
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Side-channel for one guarded operator invocation. Pass a fresh
    * instance per call (a Spark Observation binds to one query); read the
    * metrics after the first action on the operator's result.
    */
  final class GuardObservation(val label: String) {
    private[ops] val obs = Observation(s"graft_guard_${label}_${ids.incrementAndGet()}")
    @volatile private[ops] var attached = false
    // the observed bucket-count aggregation + its cap, kept for the
    // pruned-plan fallback below
    @volatile private[ops] var source: Option[(DataFrame, Int)] = None
    @volatile private var fallbackCache: Option[Map[String, Long]] = None

    private val zeros = Map("total_rows" -> 0L, "dropped_rows" -> 0L,
      "buckets" -> 0L, "dropped_buckets" -> 0L)

    /** Raw metrics row (blocks until the observed query's first action
      * completes). All zeros when the operator ran capless (no guard
      * aggregation in the plan — nothing can drop).
      *
      * When the guard drops EVERY bucket the operator's result is empty and
      * AQE's empty-relation propagation prunes the observed subtree out of
      * the executed plan — the observation then completes with an empty
      * row. That is exactly the catastrophic case this metric exists for,
      * so it falls back to re-running the saved bucket-count aggregation as
      * its own job. NOTE the cost and contract of that fallback: the saved
      * frame re-executes from FULL lineage — a complete re-scan/re-shuffle
      * of the operator's input, not just the final tiny aggregation — and
      * it assumes the lineage is deterministic (true for every graft op;
      * a nondeterministic caller-supplied source could report counts from
      * a different realization than the run it describes). A WARN announces
      * the recompute; the result is cached after the first read.
      */
    def metrics: Map[String, Long] =
      if (!attached) zeros
      else {
        val m = obs.get
        if (m.nonEmpty)
          m.map { case (k, v) => k -> (if (v == null) 0L else v.asInstanceOf[Long]) }
        else fallbackCache.getOrElse {
          val computed = source match {
            case Some((counts, cap)) =>
              log.warn(s"[$label] guard metrics were pruned from the executed " +
                "plan (empty result); recomputing the bucket-count aggregation " +
                "from full lineage — this re-runs the operator's input scan")
              val aggs = dropAggs(cap)
              val r = counts.agg(aggs.head, aggs.tail: _*).head()
              Map("total_rows" -> r.getLong(0), "dropped_rows" -> r.getLong(1),
                "buckets" -> r.getLong(2), "dropped_buckets" -> r.getLong(3))
            case None => zeros
          }
          fallbackCache = Some(computed)
          computed
        }
      }

    def totalRows: Long = metrics("total_rows")
    def droppedRows: Long = metrics("dropped_rows")
    def buckets: Long = metrics("buckets")
    def droppedBuckets: Long = metrics("dropped_buckets")

    /** Fraction of candidate-generation rows lost to the cap — the recall
      * exposure of this run (0.0 = the guard never fired).
      */
    def droppedFraction: Double = {
      val m = metrics
      val t = m("total_rows")
      if (t == 0L) 0.0 else m("dropped_rows").toDouble / t
    }

    /** Log (WARN) when the run dropped more than `warnAt` of its rows;
      * returns the fraction so callers can thread it into their own
      * accounting. The message names the knob to grow.
      */
    def logIfLossy(warnAt: Double = 0.0): Double = {
      val f = droppedFraction
      if (f > warnAt)
        log.warn(f"[$label] recall guard dropped $f%.1f%% of candidate rows " +
          f"(${droppedRows} of ${totalRows} rows in ${droppedBuckets} of " +
          f"${buckets} buckets) — grow the bucket keyspace (planes/blocks) " +
          f"or the cap for this corpus size")
      f
    }
  }

  def observation(label: String): GuardObservation = new GuardObservation(label)

  private def dropAggs(cap: Int) = Seq(
    coalesce(sum(col("count")), lit(0L)).as("total_rows"),
    coalesce(sum(when(col("count") > cap, col("count")).otherwise(0L)), lit(0L))
      .as("dropped_rows"),
    count(lit(1)).as("buckets"),
    coalesce(sum(when(col("count") > cap, 1L).otherwise(0L)), lit(0L))
      .as("dropped_buckets"))

  /** A/B escape hatch for measuring the default-on telemetry's own cost:
    * `-Dgraft.guard.telemetry=off` skips the CollectMetrics attach (and the
    * listener registration) entirely. BENCH-ONLY — with it off, a recall
    * collapse is silent again. Read per call so one JVM can interleave
    * on/off batteries (see graft.tools.GuardAbBench).
    */
  private def telemetryOff: Boolean =
    sys.props.get("graft.guard.telemetry").contains("off")

  /** Attach the drop metrics to the guard's bucket-count aggregation
    * (`capBuckets`' `groupBy(keys).count()`). One CollectMetrics node on an
    * existing tiny intermediate — no extra job, no extra shuffle.
    *
    * Telemetry is DEFAULT-ON: with no explicit `obs`, the metrics node is
    * attached under an auto-generated name and a once-per-session
    * QueryExecutionListener reads it after whatever action the CALLER
    * eventually runs — a lossy run WARNs (and lands in the drop ledger)
    * with zero caller cooperation. An explicit `obs` additionally gives
    * the caller blocking reads + the AQE-pruned-plan recompute fallback.
    */
  private def observeDrops(bucketCounts: DataFrame,
      obs: Option[GuardObservation], cap: Int, label: String): DataFrame = {
    if (telemetryOff && obs.isEmpty) return bucketCounts
    ensureListener(bucketCounts.sparkSession)
    val aggs = dropAggs(cap)
    obs match {
      case Some(o) =>
        o.attached = true
        o.source = Some((bucketCounts, cap))
        putTag(o.obs.name)
        bucketCounts.observe(o.obs, aggs.head, aggs.tail: _*)
      case None =>
        val name = s"graft_guard_${label}_${ids.incrementAndGet()}"
        putTag(name)
        bucketCounts.observe(name, aggs.head, aggs.tail: _*)
    }
  }

  /** The degenerate-bucket guard every near-dup operator shares: keeps the
    * rows of `keyed` whose `keys` bucket holds at most `maxBucket` rows
    * (a hot bucket — empty or boilerplate docs — would make the pair
    * self-join O(bucket²)). The bucket-count aggregation carries the drop
    * metrics (`observeDrops`). Capless runs (`maxBucket = Int.MaxValue`)
    * return `keyed` untouched: nothing can drop, so the count and join
    * would be pure cost, and `obs` reports zeros.
    */
  private[ops] def capBuckets(keyed: DataFrame, keys: Seq[String], maxBucket: Int,
      obs: Option[GuardObservation], label: String): DataFrame =
    if (maxBucket == Int.MaxValue) keyed
    else {
      val small = observeDrops(keyed.groupBy(keys.map(col): _*).count(), obs,
          maxBucket, label)
        .filter(col("count") <= maxBucket).select(keys.map(col): _*)
      keyed.join(small, keys)
    }

  // ---- default-on telemetry: session listener + drop ledger -----------------

  /** One ledger row = one observed guard invocation (keyed by the unique
    * metric name, so two runs of the SAME op — or two concurrent sessions
    * hitting the same label — never merge).
    */
  final case class DropRecord(label: String, queryTag: String,
      totalRows: Long, droppedRows: Long) {
    def fraction: Double =
      if (totalRows == 0L) 0.0 else droppedRows.toDouble / totalRows
  }

  /** Per-observation drop stats since the last drain, keyed by the unique
    * metric name (`graft_guard_<label>_<n>`).
    */
  private val ledger =
    new java.util.concurrent.ConcurrentHashMap[String, DropRecord]()
  private val LedgerMax = 4096
  @volatile private var ledgerLastUpdateNanos = 0L

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
    */
  def drainDropLedgerDetailed(): Seq[DropRecord] = {
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

  /** Wait for the async listener bus to go quiet: returns once no ledger
    * update has arrived for `quietMs`, or after `deadlineMs` total. A
    * battery with zero guarded queries returns after one quiet window —
    * strictly better than a fixed sleep sized for the worst case.
    */
  def awaitLedgerQuiescent(quietMs: Long = 500, deadlineMs: Long = 15000): Unit = {
    val t0 = System.nanoTime()
    var last = ledgerLastUpdateNanos
    var quietSince = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e6 < deadlineMs) {
      val cur = ledgerLastUpdateNanos
      val now = System.nanoTime()
      if (cur != last) { last = cur; quietSince = now }
      else if ((now - quietSince) / 1e6 >= quietMs) return
      Thread.sleep(50)
    }
  }

  /** graft_guard_<label>_<n> → <label> */
  private def labelOf(metricName: String): String =
    metricName.stripPrefix("graft_guard_").replaceAll("_[0-9]+$", "")

  private val listenedSessions = java.util.Collections.newSetFromMap(
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  /** Register the guard-metrics listener once per session. Reads
    * `qe.observedMetrics` (already materialized by the action — no job),
    * so its cost is O(#metrics) per query.
    */
  def ensureListener(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!telemetryOff && listenedSessions.add(spark))
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit = {
            val observed = qe.observedMetrics
            observed.foreach { case (name, row) =>
              if (name.startsWith("graft_guard_")) {
                val total = row.getAs[Long]("total_rows")
                val dropped = row.getAs[Long]("dropped_rows")
                val lbl = labelOf(name)
                // keyed by the UNIQUE metric name: repeated runs of the
                // same op (and concurrent sessions) stay separate rows; a
                // re-delivery of the same observation (self-join subtrees
                // re-execute the CollectMetrics node) keeps the worst
                val tag = tagOf.getOrDefault(name, "")
                // a never-drained session must not grow the ledger without
                // bound: past the cap, fold into one worst-wins row per
                // label (exactly the old aggregate behavior)
                val key = if (ledger.size() < LedgerMax || ledger.containsKey(name)) name
                  else s"graft_guard_${lbl}_overflow"
                ledger.merge(key, DropRecord(lbl, tag, total, dropped),
                  (a, b) => if (b.fraction >= a.fraction) b else a)
                ledgerLastUpdateNanos = System.nanoTime()
                if (dropped > 0L)
                  log.warn(f"[$lbl${if (tag.isEmpty) "" else s" @$tag"}] recall guard dropped " +
                    f"${100.0 * dropped / math.max(1L, total)}%.1f%% of candidate rows " +
                    f"($dropped of $total; ${row.getAs[Long]("dropped_buckets")} of " +
                    f"${row.getAs[Long]("buckets")} buckets over cap) — grow the " +
                    "bucket keyspace (planes/blocks) or the cap for this corpus size")
              }
            }
            // a guard metric present in the analyzed plan but absent from
            // the observed set means AQE's empty-relation propagation pruned
            // the guarded subtree — i.e. the result was EMPTY, the
            // all-buckets-dropped catastrophe (or a genuinely empty input).
            // distinct: the pair self-joins repeat the guarded subtree, so
            // the same CollectMetrics name appears twice in the analyzed plan
            qe.analyzed.collect {
              case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
                  if c.name.startsWith("graft_guard_") && !observed.contains(c.name) =>
                c.name
            }.distinct.foreach { name =>
              log.warn(s"[${labelOf(name)}] guard metrics were pruned from the " +
                "executed plan (empty result — all buckets dropped, or empty " +
                "input); re-run with an explicit GuardObservation for exact counts")
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
