package graftbench

import java.nio.file.{Files, Paths}

/** Folds a traced run into per-layer metrics and writes the full trace
  * (spans, stage folds, call-site frame folds) as JSON under
  * <build dir>/trace/.
  */
object TraceReport {
  val Layers = Seq("fetchparse", "frontier", "sequencer", "pipeline", "snapshot", "query", "other")

  private def subtree(trace: Trace, root: Int): Set[Int] = {
    val spans = trace.allSpans
    var ids = Set(root); var grown = true
    while (grown) {
      val next = ids ++ spans.filter(s => ids.contains(s.parent)).map(_.id)
      grown = next.size > ids.size; ids = next
    }
    ids
  }

  /** Stages of the traced work (under its root span), with battery stages
    * (no graft frame of their own) assigned to the query layer by span.
    */
  def workStages(trace: Trace, rootName: String): Seq[Trace.StageFold] = {
    val spans = trace.allSpans
    spans.find(s => s.name == rootName && s.parent == -1).toSeq.flatMap { root =>
      val ids = subtree(trace, root.id)
      trace.stages.filter(st => ids.contains(st.span)).map { st =>
        if (st.layer == "other" && spans(st.span).name.startsWith("query.")) st.layer = "query"
        st
      }
    }
  }

  /** (tracing overhead s, driver/other s, spark.* per-layer metrics). */
  def summarize(trace: Trace, rootName: String, tracedWall: Option[Double],
      untracedWall: Option[Double]): (Double, Double, Map[String, Double]) = {
    val spans = trace.allSpans
    val root = spans.find(s => s.name == rootName && s.parent == -1)
    val other = root.toSeq.flatMap { r =>
      val ids = subtree(trace, r.id)
      spans.filter(s => ids.contains(s.id) && spans.exists(_.parent == s.id)).map(s => trace.selfSeconds(s.id))
    }.sum
    val stages = workStages(trace, rootName)
    val perLayer = Layers.flatMap { l =>
      val st = stages.filter(_.layer == l)
      Seq(s"spark.task_s.$l" -> st.map(_.runMs).sum / 1e3,
        s"spark.shuffle_write_bytes.$l" -> st.map(_.shuffleWriteBytes).sum.toDouble,
        s"spark.gc_s.$l" -> st.map(_.gcMs).sum / 1e3)
    }.toMap ++ Map("spark.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
      "spark.records" -> stages.map(_.records).sum.toDouble)
    val overhead = (for (t <- tracedWall; u <- untracedWall) yield t - u).getOrElse(0.0)
    (overhead, other, perLayer)
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def write(trace: Trace, workload: String, seed: Long): Unit = {
    val dir = Paths.get(sys.env.getOrElse("CARGO_TARGET_DIR", ".bench_build"), "trace")
    Files.createDirectories(dir)
    val spans = trace.allSpans.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"self_s":${trace.selfSeconds(s.id)},"run":${q(s.runId)}}""")
    val stages = trace.stages.map(st =>
      s"""{"stage":${st.stageId},"span":${st.span},"frame":${q(st.frame)},"name":${q(st.name)},"layer":${q(st.layer)},""" +
        s""""tasks":${st.tasks},"run_ms":${st.runMs},"records":${st.records},""" +
        s""""shuffle_write_bytes":${st.shuffleWriteBytes},"spill_bytes":${st.spillBytes},""" +
        s""""gc_ms":${st.gcMs},"max_task_ms":${st.maxTaskMs},"median_task_ms":${st.medianTaskMs}}""")
    val frames = trace.stages.groupBy(_.frame).toSeq.sortBy(-_._2.map(_.runMs).sum).map { case (f, st) =>
      s"""{"frame":${q(f)},"stages":${st.size},"run_ms":${st.map(_.runMs).sum},""" +
        s""""records":${st.map(_.records).sum},"shuffle_write_bytes":${st.map(_.shuffleWriteBytes).sum},""" +
        s""""spill_bytes":${st.map(_.spillBytes).sum},"gc_ms":${st.map(_.gcMs).sum},""" +
        s""""max_task_ms":${st.map(_.maxTaskMs).max},"max_skew":${st.map(_.skew).max}}"""
    }
    Files.writeString(dir.resolve(s"$workload-$seed.json"),
      s"""{"workload":${q(workload)},"seed":$seed,"spans":[${spans.mkString(",\n")}],\n""" +
        s""""stages":[${stages.mkString(",\n")}],\n"frames":[${frames.mkString(",\n")}]}\n""")
  }
}
