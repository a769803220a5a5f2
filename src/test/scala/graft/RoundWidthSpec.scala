package graft

import graft.core.CrawlConfig
import graft.fetch.{FetchResponse, Fetcher, SyntheticFetcher}
import graft.fixtures.Fixtures
import graft.pipeline.Crawler
import graft.snapshot.SnapshotStore
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** The crawl round runs at one partition width, `seenPartitions`: the
  * fetch fans out to it (floored at the cluster's parallelism), the
  * frames built from the fetch output inherit it, and every exchange on
  * `canon` (dedup window, bloom routing, seen chain, anti-join) uses it
  * whatever `spark.sql.shuffle.partitions` says.
  */
class RoundWidthSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import RoundWidthSpec._

  val config: CrawlConfig = CrawlConfig(
    maxRounds = 2,
    seenPartitions = 8,
    bloomExpectedPerPartition = 100000L)

  lazy val seeds = Fixtures.seeds(300)

  /** A 2-round crawl into a new store: (store, task count of every stage
    * its jobs ran, the stages that ran a fetch).
    */
  lazy val tasksRun: (SnapshotStore, Map[Int, Int], Set[Int]) = {
    import spark.implicits._
    val tag = "round-width-tasks"
    val tasks = new ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.tag") == tag))
          tasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    val store = new SnapshotStore(tempDir("graft-round-width"))
    val sc = spark.sparkContext
    fetchStages.clear()
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try new Crawler(spark, config, store.root, StageRecordingFetcher).run(spark.createDataset(seeds))
    finally {
      sc.setLocalProperty("graft.test.tag", null)
      org.apache.spark.GraftBridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    assert(store.latestRound().contains(1), "test vacuous: the crawl must commit 2 rounds")
    (store, tasks.asScala.toMap, fetchStages.asScala.toSet)
  }

  test("the fetch runs seenPartitions tasks and no crawl stage runs more than twice that") {
    val (_, tasks, fetched) = tasksRun
    assert(fetched.size == 2, s"one fetch stage per round expected, got stages $fetched")
    fetched.foreach { s =>
      assert(tasks.get(s).contains(config.seenPartitions),
        s"fetch stage $s ran ${tasks.get(s)} tasks, not ${config.seenPartitions}")
    }
    val widest = tasks.values.max
    assert(widest <= 2 * config.seenPartitions, s"a crawl stage ran $widest tasks")
  }

  test("resume reads only the previous round's docs") {
    val (store, _, _) = tasksRun
    val cands = new Crawler(spark, config.copy(maxRounds = 3), store.root).candidatesFromStore(2)
    val files = cands.inputFiles
    assert(files.nonEmpty, "test vacuous: the resumed candidates read no file")
    val under = "/docs/round=1/"
    assert(files.forall(_.contains(under)),
      s"files outside $under: ${files.filterNot(_.contains(under)).take(3).mkString(", ")}")
    assert(cands.count() > 0, "test vacuous: no resumed candidate")
  }

  /** Widths of every executed shuffle that hash-partitions on `canon`,
    * cached plans included.
    */
  private def canonWidths(plan: SparkPlan): Seq[Int] =
    collect(plan) {
      case s: ShuffleExchangeExec => s.outputPartitioning match {
        case HashPartitioning(Seq(a: AttributeReference), n) if a.name == "canon" => Seq(n)
        case _ => Nil
      }
      case m: InMemoryTableScanExec => canonWidths(m.relation.cachedPlan)
    }.flatten

  test("every canon exchange of a crawl runs at seenPartitions, not the session's shuffle width") {
    import spark.implicits._
    val width = 5
    val cfg = config.copy(seenPartitions = width, collapseEvery = 1)
    val widths = new ConcurrentLinkedQueue[Int]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        canonWidths(qe.executedPlan).foreach(widths.add)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "8")
    spark.listenerManager.register(listener)
    val dir = tempDir("graft-round-width-plan")
    try {
      val crawlSeeds = spark.createDataset(Fixtures.seeds(200))
      // two rounds with a collapse each round, then a resume for the third
      new Crawler(spark, cfg, dir).run(crawlSeeds)
      new Crawler(spark, cfg.copy(maxRounds = 3), dir).run(crawlSeeds)
    } finally {
      org.apache.spark.GraftBridge.drainListeners(spark.sparkContext)
      spark.listenerManager.unregister(listener)
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    assert(new SnapshotStore(dir).latestRound().contains(2), "test vacuous: 3 rounds expected")
    val seen = widths.asScala.toSeq
    assert(seen.nonEmpty, "test vacuous: no canon exchange observed")
    assert(seen.forall(_ == width), s"canon exchange widths ${seen.distinct.sorted.mkString(",")}")
  }
}

object RoundWidthSpec {
  /** Stages that ran a fetch. Tasks run in the test JVM (local mode), so
    * the fetcher records straight into this set.
    */
  val fetchStages: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()

  object StageRecordingFetcher extends Fetcher {
    override def fetch(canonUrl: String, attempt: Int): FetchResponse = {
      Option(TaskContext.get()).foreach(tc => fetchStages.add(tc.stageId()))
      SyntheticFetcher.fetch(canonUrl, attempt)
    }
  }
}
