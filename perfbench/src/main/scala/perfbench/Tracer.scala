package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one run. Times are epoch milliseconds (fractional for
  * the benchmark's own spans, whole for Spark's events).
  *
  *  - ops and the benchmark's spans around each call into a layer,
  *  - every Spark job, stage and task, attributed to the op whose job group
  *    (set per op) or time window it ran in,
  *  - the Catalyst phases of every executed query, from its own tracker,
  *  - filesystem call counts per op, from [[CountingFileSystem]].
  *
  * Only ops started with `traced = true` are attributed; the others run with
  * tracing off so the run can measure its own overhead.
  */
final class Tracer {
  import Tracer._

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + epochOffsetNs) / 1e6

  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[PhaseRec]()
  val scans = new java.util.concurrent.ConcurrentLinkedQueue[ScanRec]()

  @volatile private var current: OpRec = null
  private val open = mutable.Stack.empty[Span]
  private var nextSpan = 0

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs `f` as op `id`; with `traced`, under its own job group and span. */
  def op[T](spark: SparkSession, id: Int, kind: String, traced: Boolean)(f: => T): T = {
    val sc = spark.sparkContext
    val rec = OpRec(id, kind, traced, nowMs)
    if (traced) {
      sc.setJobGroup(s"perfbench-op-$id", kind, interruptOnCancel = false)
      rec.fsBefore = CountingFileSystem.snapshot()
      rec.gcBeforeMs = gcMillis()
      CountingFileSystem.enabled = true
      current = rec
      open.push(newSpan(s"op.$kind", rec))
    }
    try f
    finally {
      rec.endMs = nowMs
      if (traced) {
        closeSpan()
        current = null
        CountingFileSystem.enabled = false
        rec.gcMs = gcMillis() - rec.gcBeforeMs
        rec.fsAfter = CountingFileSystem.snapshot()
        sc.clearJobGroup()
      }
      ops += rec
    }
  }

  /** A span around one call into a layer, inside the current traced op. */
  def span[T](name: String)(f: => T): T =
    if (current == null) f
    else {
      open.push(newSpan(name, current))
      try f finally closeSpan()
    }

  private def newSpan(name: String, op: OpRec): Span = {
    nextSpan += 1
    Span(nextSpan, open.headOption.map(_.id).getOrElse(0), op.id, name, nowMs)
  }

  private def closeSpan(): Unit = {
    val s = open.pop()
    s.endMs = nowMs
    spans += s
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, group, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(StageRec(i.stageId, i.numTasks,
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
        if (m == null) 0L else m.executorRunTime, if (m == null) 0L else m.jvmGCTime))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(PhaseRec(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
      val at = qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      logfileScans(qe.executedPlan).foreach { b =>
        scans.add(ScanRec(at, b.inputRDD.getNumPartitions, b.metrics.map { case (k, m) => k -> m.value }))
      }
    }
  }

  /** Waits until Spark has delivered every event of the run to the listeners. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** The traced op whose window holds `t`; jobs prefer their group. */
  def opAt(t: Double): Option[OpRec] = ops.find(o => o.traced && t >= o.startMs && t <= o.endMs)
  def opOf(j: JobRec): Option[OpRec] = j.group.filter(_.startsWith("perfbench-op-"))
    .flatMap(g => ops.find(o => o.traced && g == s"perfbench-op-${o.id}")).orElse(opAt(j.startMs))

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
}

object Tracer {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

  /** The `logfile` scans of an executed plan, through adaptive stages. */
  def logfileScans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => logfileScans(a.executedPlan)
    case q: QueryStageExec => logfileScans(q.plan)
    case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.logfile.LogfileScan] => Seq(b)
    case other => (other.children ++ other.subqueries).flatMap(logfileScans)
  }

  final case class ScanRec(atMs: Double, partitions: Int, metrics: Map[String, Long])
  final case class OpRec(id: Int, kind: String, traced: Boolean, startMs: Double) {
    var endMs: Double = startMs
    var gcBeforeMs = 0L
    var gcMs = 0L
    var fsBefore: Map[(String, String), Long] = Map.empty
    var fsAfter: Map[(String, String), Long] = Map.empty
    def wallS: Double = (endMs - startMs) / 1000.0
    def fs(op: String, cls: Option[String] = None): Long =
      fsAfter.collect { case ((o, c), n) if o == op && cls.forall(_ == c) => n - fsBefore.getOrElse((o, c), 0L) }.sum
  }
  final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Double) {
    var endMs: Double = startMs
  }
  final case class JobRec(id: Int, startMs: Double, group: Option[String], stageIds: Seq[Int]) {
    @volatile var endMs: Double = startMs
  }
  final case class StageRec(id: Int, numTasks: Int, startMs: Double, endMs: Double,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)
  final case class TaskRec(stageId: Int, startMs: Double, endMs: Double, runMs: Long, gcMs: Long)
  final case class PhaseRec(name: String, startMs: Double, endMs: Double)

  /** Total length of the union of intervals, in the intervals' unit. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var started = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (!started || s > curE) {
        if (started) total += curE - curS
        curS = s; curE = e; started = true
      } else curE = math.max(curE, e)
    }
    if (started) total += curE - curS
    total
  }
}
