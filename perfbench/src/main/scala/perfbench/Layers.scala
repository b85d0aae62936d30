package perfbench

import perfbench.Trace.{OpView, covered}

/** Turns one traced op into per-layer numbers.
  *
  * Medallion stages are found from the outside: every lake write is an
  * SQL execution whose output path names its zone and table. A stage's
  * span runs from the end of the previous stage's last write (or the
  * op's start) to the end of its own last write; `pipeline.other_s` is
  * the rest of the op, so the spans partition the op's wall time. A job
  * belongs to the stage whose span holds its end.
  */
object Layers {
  val Stages: Seq[String] = Seq("bronze", "silver", "scd2", "dim_date", "fact")
  val StageMetrics: Seq[String] =
    Seq("wall_s", "self_s", "jobs", "exec_s", "rows_written", "bytes_written", "bytes_read")

  def stageOf(path: String): Option[String] =
    if (path.contains("/bronze/")) Some("bronze")
    else if (path.contains("/silver/")) Some("silver")
    else if (path.contains("/gold/dim_customer")) Some("scd2")
    else if (path.contains("/gold/dim_date")) Some("dim_date")
    else if (path.contains("/gold/fact_sales")) Some("fact")
    else None

  private def jobIntervals(v: OpView): Seq[(Long, Long)] =
    v.jobs.map(j => (j.start, if (j.end < 0) v.op.end else j.end))

  /** Engine-layer numbers of one op. */
  def engine(v: OpView, cores: Int): Map[String, Double] = {
    val st = v.stages.values.map(_._2).toSeq
    val wallS = v.op.wallMs / 1e3
    val runS = st.map(_.runMs).sum / 1e3
    Map(
      "catalyst.analysis_s" -> v.execs.map(_.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> v.execs.map(_.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> v.execs.map(_.planningMs).sum / 1e3,
      "codegen.compile_s" -> v.op.compileNs / 1e9,
      "codegen.compiles" -> v.op.compiles.toDouble,
      "scheduler.jobs" -> v.jobs.size.toDouble,
      "scheduler.stages" -> st.count(_.completed > 0).toDouble,
      "scheduler.tasks" -> st.map(_.tasks).sum.toDouble,
      "scheduler.nosql_jobs" -> v.jobs.count(_.sqlExec.isEmpty).toDouble,
      "scheduler.failed_tasks" -> st.map(_.failedTasks).sum.toDouble,
      "driver.nojob_s" -> (v.op.wallMs - covered(jobIntervals(v), v.op.start, v.op.end)) / 1e3,
      "executor.run_s" -> runS,
      "executor.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "executor.utilization" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "shuffle.write_bytes" -> st.map(_.shWrite).sum.toDouble,
      "shuffle.read_bytes" -> st.map(_.shRead).sum.toDouble,
      "spill_bytes" -> st.map(_.spill).sum.toDouble)
  }

  /** (stage, start, end) of each medallion stage of a pipeline op,
    * plus the end of the last stage. */
  def stageBounds(v: OpView): (Seq[(String, Long, Long)], Long) = {
    val writes = v.execs.flatMap(x => x.writePath.flatMap(stageOf).map(_ -> x))
    var prev = v.op.start
    val bounds = Stages.map { s =>
      val last = writes.collect { case (`s`, x) if x.end >= 0 => x.end }.maxOption
      val end = math.min(v.op.end, math.max(prev, last.getOrElse(prev)))
      val b = (s, prev, end)
      prev = end
      b
    }
    (bounds, prev)
  }

  /** Medallion-stage numbers of one pipeline op. `versions` is the
    * number of customer versions (changed plus new) the op landed. */
  def pipeline(v: OpView, versions: Double): Map[String, Double] = {
    val op = v.op
    val writes = v.execs.flatMap(x => x.writePath.flatMap(stageOf).map(_ -> x))
    val (bounds, prev) = stageBounds(v)
    val intervals = jobIntervals(v)
    def stageOfJob(end: Long): Option[String] =
      bounds.collectFirst { case (s, _, e) if end >= 0 && end <= e => s }
    val jobsBy = v.jobs.groupBy(j => stageOfJob(j.end))
    val perStage = bounds.flatMap { case (s, start, end) =>
      val js = jobsBy.getOrElse(Some(s), Nil).map(_.id).toSet
      val st = v.stages.values.collect { case (j, a) if js(j) => a }
      val ws = writes.collect { case (`s`, x) => x }
      Seq(
        s"$s.wall_s" -> (end - start) / 1e3,
        s"$s.self_s" -> ((end - start) - covered(intervals, start, end)) / 1e3,
        s"$s.jobs" -> js.size.toDouble,
        s"$s.exec_s" -> st.map(_.runMs).sum / 1e3,
        s"$s.rows_written" -> ws.map(_.rowsWritten).sum.toDouble,
        s"$s.bytes_written" -> ws.map(_.bytesWritten).sum.toDouble,
        s"$s.bytes_read" -> st.map(_.inBytes).sum.toDouble)
    }.toMap
    val scd2Rows = perStage("scd2.rows_written")
    perStage ++ Map(
      "pipeline.wall_s" -> op.wallMs / 1e3,
      "pipeline.other_s" -> (op.end - prev) / 1e3,
      "scd2.rows_written_per_change" -> (if (versions > 0) scd2Rows / versions else 0.0))
  }

  /** Query-registry numbers of one query op (its `build` and `consume`
    * spans partition it). */
  def registry(v: OpView): Map[String, Double] = {
    val intervals = jobIntervals(v)
    def spanOf(name: String) = v.op.spans.find(_.name == name)
    def len(name: String) = spanOf(name).map(s => s.end - s.start).getOrElse(0L)
    def self(name: String) = spanOf(name)
      .map(s => (s.end - s.start) - covered(intervals, s.start, s.end)).getOrElse(0L)
    val buildJobs = spanOf("build").map(s => v.jobs.count(j => j.start >= s.start && j.start <= s.end))
    Map(
      "queries.pass_s" -> v.op.wallMs / 1e3,
      "queries.build_s" -> len("build") / 1e3,
      "queries.consume_s" -> len("consume") / 1e3,
      "queries.build_self_s" -> self("build") / 1e3,
      "queries.consume_self_s" -> self("consume") / 1e3,
      "queries.build_jobs" -> buildJobs.getOrElse(0).toDouble,
      "queries.checkpoints" ->
        v.execs.count(x => x.funcName == "checkpoint" || x.funcName == "localCheckpoint").toDouble)
  }

  /** The spans of one traced op: the op, its named child spans or
    * medallion stages, its SQL executions and its jobs. */
  def spans(v: OpView): Seq[Map[String, Any]] = {
    val o = v.op
    def span(name: String, start: Long, end: Long, parent: String, extra: (String, Any)*) =
      Map[String, Any]("op" -> o.id, "name" -> name, "start" -> start, "end" -> end,
        "parent" -> parent) ++ extra
    val children =
      if (o.spans.nonEmpty) o.spans.map(s => span(s.name, s.start, s.end, o.name)).toSeq
      else stageBounds(v)._1.map { case (s, start, end) => span(s, start, end, o.name) }
    Seq(span(o.name, o.start, o.end, null)) ++ children ++
      v.execs.map(x => span(s"sql ${x.id}", x.start, x.end, o.name,
        "func" -> x.funcName, "path" -> x.writePath.orNull)) ++
      v.jobs.map(j => span(s"job ${j.id}", j.start, j.end,
        j.sqlExec.map(e => s"sql $e").getOrElse(o.name)))
  }

  /** Layers also reported for the bulk load that sets up the daily
    * increments, prefixed `bulk.`. */
  val BulkNames: Seq[String] =
    Stages.flatMap(s => Seq(s"$s.wall_s", s"$s.exec_s")) ++
      Seq("pipeline.wall_s", "pipeline.other_s", "codegen.compile_s", "driver.nojob_s",
        "executor.run_s", "executor.utilization")

  /** Every per-layer metric name, in output order. */
  val Names: Seq[String] =
    Stages.flatMap(s => StageMetrics.map(m => s"$s.$m")) ++
      Seq("scd2.rows_written_per_change", "pipeline.wall_s", "pipeline.other_s",
        "queries.pass_s", "queries.build_s", "queries.consume_s", "queries.build_self_s",
        "queries.consume_self_s", "queries.build_jobs", "queries.checkpoints",
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "codegen.compile_s", "codegen.compiles",
        "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.nosql_jobs",
        "scheduler.failed_tasks", "driver.nojob_s",
        "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.utilization",
        "shuffle.write_bytes", "shuffle.read_bytes", "spill_bytes",
        "trace.op_p50_s", "trace.listener_s", "trace.sync_s") ++
      BulkNames.map(n => s"bulk.$n")

  /** Unit of a per-layer metric, from its name. */
  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("utilization") || name.endsWith("per_change")) "ratio"
    else if (name.contains("bytes")) "bytes"
    else "count"
}
