package perfbench

import scala.jdk.CollectionConverters._

import perfbench.Main.{Ok, Result}
import perfbench.Tracer.{JobRec, OpRec, unionLength}

/** Per-layer figures derived from a traced run's [[Tracer]]. Times are per
  * traced op (seconds), counts per traced op unless named otherwise.
  */
object Layers {

  final case class OpTrace(op: OpRec, jobs: Seq[JobRec], stages: Seq[Tracer.StageRec],
      phases: Seq[Tracer.PhaseRec]) {
    def jobUnionS: Double = unionLength(jobs.map(j => (j.startMs, j.endMs))) / 1000.0
  }

  /** Traced ops that completed correctly, with the Spark work they caused. */
  def traced(t: Tracer, results: Seq[Result]): Seq[OpTrace] = {
    val ok = results.filter(r => r.traced && r.status == Ok).map(_.id).toSet
    val jobsByOp = t.jobs.values().asScala.toSeq.groupBy(j => t.opOf(j).map(_.id))
    val stageById = t.stages.asScala.toSeq.groupBy(_.id)
    val phaseByOp = t.phases.asScala.toSeq.groupBy(p => t.opAt(p.startMs).map(_.id))
    t.ops.toSeq.filter(o => o.traced && ok(o.id)).map { o =>
      val js = jobsByOp.getOrElse(Some(o.id), Nil)
      OpTrace(o, js, js.flatMap(_.stageIds).distinct.flatMap(stageById.getOrElse(_, Nil)),
        phaseByOp.getOrElse(Some(o.id), Nil))
    }
  }

  /** Layer metrics every workload has. */
  def common(t: Tracer, results: Seq[Result], sessionBuildS: Seq[Double]): Seq[Metric] = {
    val ops = traced(t, results)
    val n = math.max(1, ops.size).toDouble
    def perOp(f: OpTrace => Double) = ops.map(f).sum / n
    def phase(name: String) = perOp(_.phases.filter(_.name == name).map(p => p.endMs - p.startMs).sum / 1000.0)
    def spanS(name: String) = perOp(o =>
      t.spans.filter(s => s.op == o.op.id && s.name == name).map(s => s.endMs - s.startMs).sum / 1000.0)
    val taskS = perOp(_.stages.map(_.runMs).sum / 1000.0)
    val taskGcS = perOp(_.stages.map(_.gcMs).sum / 1000.0)
    Seq(
      Metric("session.build_s", Stats.median(sessionBuildS), "s"),
      Metric("op.wall_s", perOp(_.op.wallS), "s"),
      Metric("op.build_s", spanS("build"), "s"),
      Metric("plan.analysis_s", phase("analysis"), "s"),
      Metric("plan.optimization_s", phase("optimization"), "s"),
      Metric("plan.planning_s", phase("planning"), "s"),
      Metric("exec.job_s", perOp(_.jobUnionS), "s"),
      Metric("exec.driver_gap_s", perOp(o => o.op.wallS - o.jobUnionS), "s"),
      Metric("exec.task_s", taskS, "s"),
      Metric("exec.task_cpu_s", perOp(_.stages.map(_.cpuNs).sum / 1e9), "s"),
      Metric("exec.gc_frac", if (taskS > 0) taskGcS / taskS else 0.0, "ratio"),
      Metric("exec.jobs", perOp(_.jobs.size), "count"),
      Metric("exec.stages", perOp(_.stages.size), "count"),
      Metric("exec.tasks", perOp(_.stages.map(_.numTasks).sum), "count"),
      Metric("exec.shuffle_write_bytes", perOp(_.stages.map(_.shuffleWrite).sum), "B"),
      Metric("exec.shuffle_read_bytes", perOp(_.stages.map(_.shuffleRead).sum), "B"),
      Metric("exec.spill_bytes", perOp(_.stages.map(_.spill).sum), "B"),
      Metric("jvm.gc_frac", ops.map(_.op.gcMs / 1000.0).sum / math.max(1e-9, ops.map(_.op.wallS).sum), "ratio"),
      Metric("trace.overhead_frac", overhead(results), "ratio")) ++
      fsMetrics(ops, results)
  }

  /** Filesystem calls per commit (write op) and per read (read op). */
  private def fsMetrics(ops: Seq[OpTrace], results: Seq[Result]): Seq[Metric] = {
    val category = results.map(r => r.id -> r.category).toMap
    def per(cat: String, op: String, cls: Option[String] = None) = {
      val os = ops.filter(o => category(o.op.id) == cat)
      if (os.isEmpty) 0.0 else os.map(_.op.fs(op, cls)).sum.toDouble / os.size
    }
    CountingFileSystem.Ops.map(op => Metric(s"fs.${op}_per_commit", per("write", op), "count")) ++
      Seq("list", "open", "status").map(op => Metric(s"fs.${op}_per_read", per("read", op), "count")) ++
      Seq(
        Metric("fs.log_calls_per_commit",
          CountingFileSystem.Ops.map(per("write", _, Some("log"))).sum, "count"),
        Metric("fs.log_calls_per_read",
          CountingFileSystem.Ops.map(per("read", _, Some("log"))).sum, "count"),
        Metric("fs.input_calls_per_read",
          CountingFileSystem.Ops.map(per("read", _, Some("input"))).sum, "count"))
  }

  /** Traced over untraced median op time, minus one, averaged over op kinds
    * that ran both ways in the run.
    */
  private def overhead(results: Seq[Result]): Double = {
    val ok = results.filter(_.status == Ok)
    val ratios = ok.groupBy(_.kind).values.flatMap { rs =>
      val (tr, un) = rs.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some(Stats.median(tr.map(_.wallS)) / Stats.median(un.map(_.wallS)) - 1.0)
    }
    Stats.mean(ratios.toSeq)
  }

  /** Self time per span name, per traced op: a span's length minus the part
    * its children cover. Catalyst phases and Spark jobs are children of the
    * innermost benchmark span that holds their start.
    */
  def selfTimes(t: Tracer): Map[String, Double] = {
    val all = allSpans(t)
    val children = all.groupBy(_.parent)
    val nOps = math.max(1, t.ops.count(_.traced))
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        (s.endMs - s.startMs - unionLength(kids)) / 1000.0
      }.sum / nOps
    }
  }

  private final case class FlatSpan(id: Int, parent: Int, op: Int, name: String,
      startMs: Double, endMs: Double)

  /** The benchmark's spans plus Spark's phases and jobs, parented by time. */
  private def allSpans(t: Tracer): Seq[FlatSpan] = {
    val own = t.spans.toSeq.map(s => FlatSpan(s.id, s.parent, s.op, s.name, s.startMs, s.endMs))
    def parentAt(ms: Double): Option[FlatSpan] =
      own.filter(s => ms >= s.startMs && ms <= s.endMs).sortBy(s => s.endMs - s.startMs).headOption
    var next = own.map(_.id).maxOption.getOrElse(0)
    def attach(name: String, s: Double, e: Double) = parentAt(s).map { p =>
      next += 1
      FlatSpan(next, p.id, p.op, name, s, e)
    }
    own ++
      t.phases.asScala.toSeq.flatMap(p => attach(s"catalyst.${p.name}", p.startMs, p.endMs)) ++
      t.jobs.values().asScala.toSeq.flatMap(j => attach("spark.job", j.startMs, j.endMs))
  }

  def spanLines(t: Tracer): Seq[String] = allSpans(t).sortBy(_.startMs).map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs).toString
  }
}
