package perfbench

import scala.jdk.CollectionConverters._

import Main.Sample

/** Turns a traced run's spans, jobs and planner reports into the
  * per-layer metrics. Every layer value is per warm pass (the traced
  * passes' total divided by their count). */
object Layers {
  def unit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mb") => "MB"
    case "core_util" | "share" => "ratio"
    case _ => "count"
  }

  private final case class Window(start: Long, end: Long) {
    def contains(t: Long): Boolean = t >= start && t <= end
  }

  def compute(t: Tracer, traced: Seq[Sample], untraced: Seq[Sample], tracedPasses: Int,
      cores: Int, writeRows: Set[String], probeRows: Set[String], gcMs: Long, compiles: Long,
      compileSeconds: Double): Map[String, Double] = {
    val tp = math.max(1, tracedPasses).toDouble
    val spans = t.spans.toSeq
    val jobs = t.jobs.asScala.values.toSeq
    val byKind = spans.groupBy(_.kind).withDefaultValue(Nil)
    val rowWindows = byKind("row").map(s => Window(s.start, s.end))
    val queries = t.queries.asScala.toSeq.filter(q => rowWindows.exists(_.contains(q.time)))

    def layer(kind: String): Map[String, Double] = {
      val ss = byKind(kind)
      val ids = ss.map(_.id).toSet
      val js = jobs.filter(j => ids.contains(j.span))
      val jobsOf = js.groupBy(_.span)
      val wall = ss.map(s => s.end - s.start).sum / 1e6
      val self = ss.map(s => Stats.selfTime(s.start, s.end,
        jobsOf.getOrElse(s.id, Nil).map(j => (j.start, j.end)))).sum / 1e6
      val taskS = js.map(_.taskMs).sum / 1e3
      Map("wall_s" -> wall, "self_s" -> self, "jobs" -> js.size.toDouble,
        "job_s" -> js.map(j => j.end - j.start).sum / 1e6, "task_s" -> taskS,
        "stages" -> js.map(_.stages).sum.toDouble, "tasks" -> js.map(_.tasks).sum.toDouble,
        "cpu_s" -> js.map(_.cpuNs).sum / 1e9, "gc_s" -> js.map(_.gcMs).sum / 1e3,
        "core_util" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
        "shuffle_write_mb" -> js.map(_.shuffleWrite).sum / 1048576.0,
        "shuffle_read_mb" -> js.map(_.shuffleRead).sum / 1048576.0,
        "spill_mb" -> js.map(_.spill).sum / 1048576.0,
        "input_mb" -> js.map(_.input).sum / 1048576.0,
        "source_jobs" -> js.count(_.source).toDouble)
    }
    val construct = layer("construct")
    val exec = layer("exec")
    val keepConstruct = Seq("wall_s", "self_s", "jobs", "job_s", "task_s", "source_jobs")
    val keepExec = Seq("wall_s", "self_s", "jobs", "stages", "tasks", "task_s", "cpu_s",
      "gc_s", "core_util", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb")
    val rowWall = byKind("row").map(s => s.end - s.start).sum / 1e6
    val writes = queries.filter(_.write)
    // 0 on a workload without rows of the kind: every per-layer metric is
    // printed on every workload
    def p50(rows: Set[String]) = untraced.filter(s => s.ok && rows.contains(s.row)) match {
      case Seq() => 0.0
      case ss => Stats.median(ss.map(_.wall))
    }
    // traced and untraced passes take different sample counts per row, so
    // both sides use the plain median (not the lower one, which sits lower
    // the more samples it picks from)
    def medianSum(ss: Seq[Sample]) =
      ss.filter(_.ok).groupBy(_.row).values.map(g => Stats.median(g.map(_.wall))).sum
    val perPass = (keepConstruct.map(k => s"construct.$k" -> construct(k)) ++
      Seq("construct.files_discovered" -> traced.map(_.files).sum.toDouble,
        "construct.filecache_hits" -> traced.map(_.cacheHits).sum.toDouble) ++
      (keepExec.filterNot(_ == "core_util")).map(k => s"exec.$k" -> exec(k)) ++
      Seq("plan.queries" -> queries.size.toDouble,
        "plan.analysis_s" -> queries.map(_.analysisMs).sum / 1e3,
        "plan.optimization_s" -> queries.map(_.optimizationMs).sum / 1e3,
        "plan.planning_s" -> queries.map(_.planningMs).sum / 1e3,
        "plan.graft_rules_s" -> queries.map(_.graftRulesNs).sum / 1e9,
        "index.write_cmds" -> writes.size.toDouble,
        "index.renames" -> queries.count(_.rename).toDouble,
        "index.output_mb" -> writes.map(_.outBytes).sum / 1048576.0,
        "index.output_rows" -> writes.map(_.outRows).sum.toDouble,
        "stream.queries" -> t.streamStarts.size.toDouble,
        "stream.batches" -> t.batches.get.toDouble,
        "stream.batch_s" -> t.batchMs.get / 1e3,
        "stream.state_rows" -> t.stateRows.values.asScala.map(_.toDouble).sum,
        "jvm.gc_s" -> gcMs / 1e3,
        "row.wall_s" -> rowWall,
        "row.gap_s" -> (rowWall - construct("wall_s") - exec("wall_s"))))
      .map { case (k, v) => k -> v / tp }
    (perPass ++ Seq(
      "exec.core_util" -> exec("core_util"),
      "construct.share" -> (if (rowWall > 0) construct("wall_s") / rowWall else 0.0),
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_s" -> compileSeconds,
      "index.write_p50_s" -> p50(writeRows),
      "index.probe_p50_s" -> p50(probeRows),
      "trace.pass_s" -> medianSum(traced),
      "trace.untraced_pass_s" -> medianSum(untraced),
      "trace.overhead_s" -> (medianSum(traced) - medianSum(untraced)))).toMap
  }

  /** Per-row summary of a run, the input of the row-list derivation:
    * median wall, construct and exec time over warm samples, and (traced
    * runs) per-sample jobs, write commands, renames, index-metadata
    * commands and streaming queries. */
  def perRow(tracer: Option[Tracer], traced: Seq[Sample], untraced: Seq[Sample])
      : Map[String, Map[String, Double]] = {
    val all = (traced ++ untraced).filter(_.ok)
    val spans = tracer.map(_.spans.toSeq).getOrElse(Nil)
    val jobs = tracer.map(_.jobs.asScala.values.toSeq).getOrElse(Nil)
    val queries = tracer.map(_.queries.asScala.toSeq).getOrElse(Nil)
    val starts = tracer.map(_.streamStarts.asScala.toSeq).getOrElse(Nil)
    all.groupBy(_.row).map { case (row, ss) =>
      val rowSpans = spans.filter(s => s.row == row && s.kind == "row")
      val n = math.max(1, rowSpans.size).toDouble
      val constructIds = spans.filter(s => s.row == row && s.kind == "construct").map(_.id).toSet
      def inRow(t: Long) = rowSpans.exists(s => t >= s.start && t <= s.end)
      row -> Map(
        "wall_s" -> Stats.median(ss.map(_.wall)),
        "construct_s" -> Stats.median(ss.map(_.construct)),
        "exec_s" -> Stats.median(ss.map(_.exec)),
        "construct_jobs" -> jobs.count(j => constructIds.contains(j.span)) / n,
        "write_cmds" -> queries.count(q => q.write && inRow(q.time)) / n,
        "renames" -> queries.count(q => q.rename && inRow(q.time)) / n,
        "index_meta" -> queries.count(q => q.indexMeta && inRow(q.time)) / n,
        "stream_queries" -> starts.count(t => inRow(t)) / n)
    }
  }
}
