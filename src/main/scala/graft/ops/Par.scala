package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Scan-parallelism guard for expensive per-row stages.
  *
  * The contract tables are single-row-group parquet files, so their scan —
  * and EVERYTHING pipelined into it before the first exchange: explodes,
  * md5 chains, scoring UDFs, partial aggregations — runs as ONE task while
  * the other cores idle (guide §2.6: stragglers and idle capacity; a
  * row-group is parquet's split unit, so `spark.sql.files.*` cannot split
  * it further). `widen` round-robin-repartitions such a frame to the
  * session's parallelism so the heavy projection fans out.
  *
  * Scale posture: the repartition fires ONLY when the input has fewer
  * partitions than cores — a real-scale table (thousands of files /
  * row groups) passes through untouched, so this never inserts a
  * corpus-sized shuffle at 100 TB. Row-to-partition assignment is
  * deterministic under retries (sort-before-repartition, SPARK-23207) and
  * irrelevant to every consumer here (aggregations / joins / per-row
  * projections).
  *
  * The input's width is read off its physical plan (`width`), never from
  * `df.rdd`: building that RDD makes AQE run every shuffle stage under the
  * frame while the caller is still planning. A frame topped by an exchange
  * therefore reports its planned shuffle width, not the width AQE might
  * coalesce it to at run time.
  */
object Par {
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (width(df.queryExecution.executedPlan) < target) df.repartition(target) else df
  }

  /** Output partitions of `plan`, launching no job: the declared
    * partitioning where the plan has one (exchanges, coalesce, range),
    * the file splits of a scan, the cached plan's under a cache read,
    * otherwise the widest child's.
    */
  private def width(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => width(a.executedPlan)
    case m: InMemoryTableScanExec => width(m.relation.cachedPlan)
    case s: DataSourceScanExec => s.inputRDDs().head.getNumPartitions
    case p if p.outputPartitioning.numPartitions > 0 => p.outputPartitioning.numPartitions
    case leaf if leaf.children.isEmpty => leaf.execute().getNumPartitions
    case p => p.children.map(width).max
  }
}
