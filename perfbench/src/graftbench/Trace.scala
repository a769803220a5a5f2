package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Bench-owned tracing: spans around every call the benchmark makes into
  * the engine, plus a SparkListener that folds each stage's task metrics
  * into (a) the span that was active when its job was submitted and (b) the
  * first `graft.*` frame of the stage's call site (for stages that adaptive
  * execution submits from its own threads, of the SQL execution's call
  * site). Everything stays in memory until the run ends. When disabled, `span` is a plain call and no
  * listener is installed.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  // per thread; a thread started inside a span inherits it as its parent
  private val stack = new InheritableThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var sc: SparkContext = _
  private var listener: Listener = _

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    listener = new Listener
    sc.addSparkListener(listener)
  }

  def detach(): Unit = if (enabled && sc != null) {
    org.apache.spark.GraftBenchBridge.drainListeners(sc, 30000L)
    sc.removeSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val id = spans.synchronized {
        spans += Span(spans.size, name, parent, System.nanoTime(), -1L, runId)
        spans.size - 1
      }
      stack.set(id :: stack.get)
      if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
      try body
      finally {
        stack.set(stack.get.tail)
        spans.synchronized { spans(id) = spans(id).copy(end = System.nanoTime()) }
        if (sc != null) sc.setLocalProperty(SpanProp, stack.get.headOption.map(_.toString).orNull)
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  def stages: Seq[StageFold] = if (listener == null) Nil else listener.folded

  /** Jobs as (submission ms since epoch, call-site frame). */
  def jobs: Seq[(Long, String)] = if (listener == null) Nil else listener.jobList

  /** Self time of a span: its duration minus the part of it that its
    * direct children cover.
    */
  def selfSeconds(id: Int): Double = {
    val all = allSpans
    val s = all(id)
    val kids = all.filter(_.parent == id).map(k => (k.start max s.start, k.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    (s.end - s.start - covered) / 1e9
  }

  private final class Listener extends SparkListener {
    private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val jobExec = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val execDetails = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    private val acc = mutable.Map.empty[Int, StageFold]
    private val jobsSeen = mutable.ArrayBuffer.empty[(Long, String)]

    /** SQL executions carry the call site of the action that started them;
      * stages that adaptive execution submits from its own threads have no
      * graft frame of their own and fall back to it.
      */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execDetails.put(s.executionId, s.details)
      case _ =>
    }

    private def frameFor(si: StageInfo, job: Int): String = frameOf(si.details) match {
      case "other" => Option(jobExec.get(job)).flatMap(x => Option(execDetails.get(x)))
        .map(frameOf).getOrElse("other")
      case f => f
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobSpan.put(e.jobId, prop(SpanProp).map(_.toInt).getOrElse(-1))
      prop("spark.sql.execution.id").foreach(x => jobExec.put(e.jobId, x.toLong))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      val frame = e.stageInfos.sortBy(_.stageId).lastOption.map(si => frameFor(si, e.jobId)).getOrElse("other")
      synchronized { jobsSeen += ((e.time, frame)) }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      val m = e.taskMetrics
      synchronized {
        taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        val f = acc.getOrElseUpdate(e.stageId, StageFold(e.stageId))
        f.tasks += 1
        f.runMs += m.executorRunTime
        f.records += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        f.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        f.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        f.gcMs += m.jvmGCTime
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val f = acc.getOrElseUpdate(si.stageId, StageFold(si.stageId))
      val job = Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1)
      f.frame = frameFor(si, job)
      f.name = si.name
      f.layer = layerOf(si, f.frame)
      f.span = jobSpan.getOrDefault(job, -1)
      val ts = taskTimes.getOrElse(si.stageId, mutable.ArrayBuffer.empty[Long]).sorted
      if (ts.nonEmpty) {
        f.maxTaskMs = ts.last
        f.medianTaskMs = ts(ts.size / 2)
      }
    }

    def folded: Seq[StageFold] = synchronized(acc.values.toList.sortBy(_.stageId))
    def jobList: Seq[(Long, String)] = synchronized(jobsSeen.toList)
  }
}

object Trace {
  val SpanProp = "graftbench.span"

  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long, runId: String)

  final case class StageFold(stageId: Int) {
    var frame = "other"
    var name = ""
    var layer = "other"
    var span = -1
    var tasks = 0L
    var runMs = 0L
    var records = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    var maxTaskMs = 0L
    var medianTaskMs = 0L
    def skew: Double = if (medianTaskMs > 0) maxTaskMs.toDouble / medianTaskMs else 1.0
  }

  /** First `graft.*` frame of a call-site stack, as Class.method:line. */
  def frameOf(details: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
      .map { l =>
        val (sym, loc) = l.span(_ != '(')
        val line = loc.stripPrefix("(").stripSuffix(")").split(":").lift(1).getOrElse("")
        val parts = sym.split("\\.")
        val method = parts.last.split("\\$").find(p => p.nonEmpty && p != "anonfun").getOrElse(parts.last)
        val cls = parts.dropRight(1).mkString(".").stripSuffix("$")
        s"$cls.$method:$line"
      }.getOrElse("other")

  /** Layer of a stage, by what it runs and who called it:
    *  - a typed mapPartitions (Crawler.fetchParse) → fetchparse;
    *  - an RDD created in BloomBank.scala (probe, build, merge, save, load) → frontier;
    *  - otherwise the module of the first graft frame: snapshot, sequencer
    *    (Sequencer.addSeq, whose jobs also materialize the dedup plan feeding
    *    it), pipeline (the rest of Crawler.runRound), query (ops, analysis,
    *    query, SparkEntry).
    */
  def layerOf(si: StageInfo, frame: String): String = {
    val scopes = org.apache.spark.GraftBenchBridge.scopeNames(si)
    if (scopes.contains("MapPartitions") && frame.startsWith("graft.pipeline")) "fetchparse"
    else if (si.rddInfos.exists(_.callSite.contains("BloomBank.scala")) ||
      frame.startsWith("graft.frontier")) "frontier"
    else if (frame.startsWith("graft.snapshot")) "snapshot"
    else if (frame.startsWith("graft.pipeline.Sequencer")) "sequencer"
    else if (frame.startsWith("graft.pipeline")) "pipeline"
    else if (frame.startsWith("graft.ops") || frame.startsWith("graft.analysis") ||
      frame.startsWith("graft.query") || frame.startsWith("graft.SparkEntry")) "query"
    else "other"
  }
}
