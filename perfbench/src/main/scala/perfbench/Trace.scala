package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommand, DataWritingCommandExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** Outside-in layer trace.
  *
  * A SparkListener and a QueryExecutionListener, registered from the
  * benchmark, record every job, stage, task and SQL execution with its
  * wall-clock times. The workload marks its ops (and, inside an op,
  * named child spans such as `build` and `consume`) on the driver
  * thread. After each op, [[sync]] runs one tiny tagged job and waits
  * for its end event: the listener bus delivers events in order, so by
  * then every event of the op has been seen. Attribution to ops and
  * layers happens afterwards, from the recorded times alone.
  *
  * Everything stays in memory until the run writes it out.
  * Times are epoch milliseconds, the resolution of Spark's events.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private var listenerNs = 0L
  private var syncSeen = 0L
  private var pending: Option[Exec] = None
  val ops = mutable.ArrayBuffer.empty[Op]

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally listenerNs += System.nanoTime() - t0
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized(timed {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val j = new Job(e.jobId, e.time, prop("spark.sql.execution.id").map(_.toLong),
        prop("spark.jobGroup.id").contains(SyncGroup))
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    })
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized(timed {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        if (j.sync) { syncSeen += 1; Trace.this.notifyAll() }
      }
    })
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized(timed {
      stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).completed += 1
    })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized(timed {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (e.reason != Success) a.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
      }
    })
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized(timed {
        execs.getOrElseUpdate(s.executionId, new Exec(s.executionId)).start = s.time
      })
      case s: SparkListenerSQLExecutionEnd => Trace.this.synchronized(timed {
        val x = execs.getOrElseUpdate(s.executionId, new Exec(s.executionId))
        x.end = s.time
        pending.foreach(x.describe)
        pending = None
      })
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, Some(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, None)
    // a failed execution may not have a physical plan: only its name is kept
    private def record(funcName: String, qe: Option[QueryExecution]): Unit = Trace.this.synchronized(timed {
      val x = new Exec(-1L)
      x.funcName = funcName
      val phases = qe.map(_.tracker.phases).getOrElse(Map.empty)
      def phase(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
      x.analysisMs = phase("analysis")
      x.optimizationMs = phase("optimization")
      x.planningMs = phase("planning")
      qe.flatMap(q => writeCommand(q.executedPlan)).foreach {
        case c: InsertIntoHadoopFsRelationCommand =>
          x.writePath = Some(c.outputPath.toString)
          x.rowsWritten = c.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          x.bytesWritten = c.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        case _ =>
      }
      pending = Some(x)
    })
  }

  // The query listener is registered first. Both listeners sit on the
  // bus's shared queue, which hands each event to its listeners in
  // registration order: the query listener's callback for an
  // execution's end event runs just before the SparkListener sees that
  // same event, which attaches the pending description to the
  // execution id (QueryExecution ids are not execution ids).
  spark.listenerManager.register(queryListener)
  spark.sparkContext.addSparkListener(sparkListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Mark the start of op `o`. */
  def begin(o: Op): Unit = {
    o.compileNs = CodeGenerator.compileTime
    o.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    o.listenerNs = synchronized(listenerNs)
    o.start = System.currentTimeMillis()
  }

  /** Mark the end of op `o`, then [[sync]] (outside the op). */
  def end(o: Op): Unit = {
    o.end = o.spans.lastOption.fold(System.currentTimeMillis())(_.end)
    o.compileNs = CodeGenerator.compileTime - o.compileNs
    o.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - o.compiles
    ops += o
    o.syncNs = sync()
    o.listenerNs = synchronized(listenerNs) - o.listenerNs
  }

  /** Wait until the listeners have seen every event posted so far;
    * returns the nanoseconds spent waiting. */
  def sync(): Long = {
    val t0 = System.nanoTime()
    val sc = spark.sparkContext
    val target = synchronized(syncSeen) + 1
    sc.setJobGroup(SyncGroup, "trace sync", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (syncSeen < target && System.currentTimeMillis() < deadline) wait(50)
      require(syncSeen >= target, "listener bus did not deliver the sync job's end")
    }
    System.nanoTime() - t0
  }

  /** The jobs of `o` (excluding sync jobs), the stages they ran and
    * the SQL executions started inside it. Call after [[close]]. */
  def view(o: Op): OpView = synchronized {
    val js = jobs.values.filter(j => !j.sync && j.start >= o.start && j.start <= o.end).toSeq
    val jobIds = js.map(_.id).toSet
    val st = stageJob.collect { case (s, j) if jobIds(j) && stages.contains(s) => s -> (j, stages(s)) }
    val xs = execs.values.filter(x => x.start >= o.start && x.start <= o.end).toSeq
    OpView(o, js, st.toMap, xs)
  }
}

object Trace {
  val SyncGroup = "perfbench-trace-sync"

  /** The file-writing command of a physical plan, looking inside
    * adaptive plans. */
  def writeCommand(p: SparkPlan): Option[DataWritingCommand] = p match {
    case w: DataWritingCommandExec => Some(w.cmd)
    case a: AdaptiveSparkPlanExec => writeCommand(a.executedPlan)
    case q: QueryStageExec => writeCommand(q.plan)
    case other => other.children.view.flatMap(writeCommand).headOption
  }

  final class Job(val id: Int, val start: Long, val sqlExec: Option[Long], val sync: Boolean) {
    var end: Long = -1L
  }

  final class StageAgg {
    var completed, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, inBytes, shWrite, shRead, spill = 0L
  }

  final class Exec(val id: Long) {
    var start, end = -1L
    var funcName = ""
    var analysisMs, optimizationMs, planningMs = 0L
    var writePath: Option[String] = None
    var rowsWritten, bytesWritten = 0L
    /** Take the query listener's description of this execution. */
    def describe(d: Exec): Unit = {
      funcName = d.funcName
      analysisMs = d.analysisMs; optimizationMs = d.optimizationMs; planningMs = d.planningMs
      writePath = d.writePath; rowsWritten = d.rowsWritten; bytesWritten = d.bytesWritten
    }
  }

  /** A named child span of an op. An op's spans are contiguous: each
    * starts where the previous one (or the op) did end. */
  final case class Span(name: String, start: Long, end: Long)

  final case class Op(id: Int, name: String, attrs: Map[String, Double]) {
    var start, end = 0L
    var compileNs, compiles, syncNs, listenerNs = 0L
    val spans = mutable.ArrayBuffer.empty[Span]
    def span[T](name: String)(body: => T): T = {
      val s = spans.lastOption.fold(start)(_.end)
      try body finally spans += Span(name, s, System.currentTimeMillis())
    }
    def wallMs: Long = end - start
  }

  final case class OpView(op: Op, jobs: Seq[Job], stages: Map[Int, (Int, StageAgg)],
                          execs: Seq[Exec])

  /** Total length of the union of `[s, e]` intervals clipped to `[lo, hi]`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}
