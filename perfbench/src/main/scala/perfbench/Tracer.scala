package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer accounting, attached from the benchmark side only.
  *
  * Every op runs under a local property naming its op id and phase
  * (`build` or `action`), so each Spark job the op starts, on any
  * thread that inherits the property, is attributed to it. A
  * `SparkListener` collects jobs, stages and tasks, and a
  * `QueryExecutionListener` collects Catalyst phase times, the final
  * plan's Exchange count and the scans' file metrics. After each op the
  * listener bus is drained, so an op's events never leak into the next.
  * Spans nest op -> phase -> job -> stage and share the op id.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  import Tracer._

  private val sc = spark.sparkContext
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOwner = new ConcurrentHashMap[Int, (Long, Int)]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), Long]()
  private val taskWait = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  @volatile private var currentOp = -1L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpKey))).map(_.toLong)
        .getOrElse(-1L)
      val phase = p.flatMap(x => Option(x.getProperty(PhaseKey)))
        .getOrElse("none")
      jobs.put(e.jobId, JobRec(e.jobId, op, phase, e.time, -1L, e.stageIds))
      e.stageIds.foreach(s => stageOwner.put(s, (op, e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(
        (e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val key = (e.stageId, e.stageAttemptId)
      val submitted = stageSubmit.getOrDefault(key, e.taskInfo.launchTime)
      val w = math.max(0L, e.taskInfo.launchTime - submitted)
      taskWait.merge(key, w, (a, b) => a + b)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val (op, job) = Option(stageOwner.get(si.stageId)).getOrElse((-1L, -1))
      val key = (si.stageId, si.attemptNumber())
      stages.add(StageRec(op, si.stageId, job, si.numTasks,
        si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.inputMetrics.recordsRead,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        Option(taskWait.remove(key)).map(_.longValue).getOrElse(0L)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = qes.add(summarize(funcName, qe))
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = qes.add(summarize(funcName, qe))
  }

  private def summarize(funcName: String, qe: QueryExecution): QeRec = {
    def ms(phase: String): Long =
      qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val exchanges = collectWithSubqueries(plan) { case e: Exchange => e }.size
    val scanMetrics = collectWithSubqueries(plan) {
      case s if s.metrics.contains("numFiles") => s.metrics
    }
    def metric(key: String): Long =
      scanMetrics.flatMap(_.get(key)).map(_.value).sum
    QeRec(currentOp, funcName, ms("analysis"), ms("optimization"),
      ms("planning"), exchanges, metric("numFiles"),
      metric("scanTime") + metric("metadataTime"))
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private val busWait: Option[(AnyRef, java.lang.reflect.Method)] =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      Some((bus, bus.getClass.getMethod("waitUntilEmpty",
        java.lang.Long.TYPE)))
    } catch { case _: Throwable => None }

  /** Blocks until every posted listener event has been delivered. */
  def drain(): Unit = busWait match {
    case Some((bus, m)) => m.invoke(bus, java.lang.Long.valueOf(10000L))
    case None => Thread.sleep(300)
  }

  /** Runs one op under its op id, then drains and returns its trace. */
  def traceOp(opId: Long, name: String, pass: Int)(
      body: Phases => OpOut): (OpOut, OpTrace) = {
    currentOp = opId
    sc.setLocalProperty(OpKey, opId.toString)
    sc.setJobDescription(name)
    val phaseNs = mutable.Map[String, Long]().withDefaultValue(0L)
    val phases = new Phases {
      def apply[T](phase: String)(run: => T): T = {
        sc.setLocalProperty(PhaseKey, phase)
        val t0 = System.nanoTime()
        try run
        finally {
          phaseNs(phase) += System.nanoTime() - t0
          sc.setLocalProperty(PhaseKey, null)
        }
      }
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try body(phases) finally {
      sc.setLocalProperty(OpKey, null)
      sc.setJobDescription(null)
    }
    val wallNs = System.nanoTime() - t0
    drain()
    currentOp = -1L
    (out, collect(opId, name, pass, startMs, wallNs, phaseNs.toMap))
  }

  private def collect(opId: Long, name: String, pass: Int, startMs: Long,
      wallNs: Long, phaseNs: Map[String, Long]): OpTrace = {
    val opJobs = jobs.values.asScala.filter(_.op == opId).toVector
      .sortBy(_.id)
    opJobs.foreach(j => jobs.remove(j.id))
    val opStages = drainWhere(stages)(_.op == opId)
    val opQes = drainWhere(qes)(_.op == opId)
    def phaseS(p: String) = phaseNs.getOrElse(p, 0L) / 1e9
    val last = opQes.lastOption
    val planS = last.map(q => (q.analysisMs + q.optimizerMs +
      q.planningMs) / 1e3).getOrElse(0.0)
    OpTrace(opId, name, pass, startMs, wallNs / 1e9,
      buildS = phaseS("build"), planS = math.min(planS, phaseS("action")),
      actionWallS = phaseS("action"),
      jobs = opJobs, stages = opStages, qes = opQes,
      exchanges = last.map(_.exchanges).getOrElse(0))
  }

  private def drainWhere[T](q: ConcurrentLinkedQueue[T])(
      p: T => Boolean): Vector[T] = {
    val hit = q.asScala.filter(p).toVector
    hit.foreach(q.remove)
    hit
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  final case class JobRec(id: Int, op: Long, phase: String, start: Long,
      end: Long, stageIds: Seq[Int])

  final case class StageRec(op: Long, id: Int, job: Int, tasks: Int,
      submit: Long, complete: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, inRecords: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, fetchWaitMs: Long, spillBytes: Long,
      taskWaitMs: Long)

  final case class QeRec(op: Long, funcName: String, analysisMs: Long,
      optimizerMs: Long, planningMs: Long, exchanges: Int, scanFiles: Long,
      scanTimeMs: Long)

  /** One traced op. `planS` is the Catalyst time of the op's final
    * action, inside `actionWallS`; `execS` is the rest of the action.
    */
  final case class OpTrace(opId: Long, name: String, pass: Int,
      startMs: Long, wallS: Double, buildS: Double, planS: Double,
      actionWallS: Double, jobs: Vector[JobRec], stages: Vector[StageRec],
      qes: Vector[QeRec], exchanges: Int) {
    def execS: Double = actionWallS - planS
    /** Share of op wall not covered by build + plan + exec. */
    def residueShare: Double =
      if (wallS <= 0) 0.0 else (wallS - buildS - planS - execS) / wallS
    def buildJobs: Int = jobs.count(_.phase == "build")
  }
}
