package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-stage metrics collector for [[graft.Bench]] and
  * [[StageGate]]. SparkListener events arrive asynchronously on the
  * listener bus (r17 ADVICE: a drain that races delivery can miss a
  * query's trailing stages and leak the previous query's late events
  * into the next bucket), so [[drain]] first QUIESCES — r19 (r18
  * ADVICE): via `listenerBus.waitUntilEmpty` through a reflective
  * shim (`private[spark]` in source, public in bytecode), which is
  * exact — the bus itself reports empty queues, so a stage-completion
  * event delayed >200 ms on a busy bus (the `--all` sweep) can no
  * longer leak a cold-run stage into the warm bucket or drop a
  * violation into the discarded drain. The r17 size-stability poll
  * (queue stable across two 100 ms windows, 3 s deadline) survives
  * only as the fallback when the shim is unavailable.
  */
object StageCollector {
  /** One completed stage: (stageId, numTasks, wallSec, cpuSec,
    * shuffleRecordsRead, shuffleRecordsWritten) plus the BYTE-level
    * shuffle/spill totals (r19 verdict item 4: the x12/x126 100×
    * adjudication needs shuffle BYTES per candidate pair, not record
    * counts).
    */
  final case class StageRow(id: Int, tasks: Int, wall: Double,
      cpu: Double, shuffleRead: Long, shuffleWrite: Long,
      shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
      spillBytes: Long = 0L)
}

final class StageCollector(spark: SparkSession) {
  import StageCollector.StageRow

  private val q = new ConcurrentLinkedQueue[StageRow]()

  private val listener = new SparkListener {
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      val wall = (for {
        a <- s.stageInfo.completionTime
        b <- s.stageInfo.submissionTime
      } yield (a - b) / 1e3).getOrElse(-1.0)
      q.add(StageRow(s.stageInfo.stageId, s.stageInfo.numTasks, wall,
        m.executorCpuTime / 1e9,
        m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Detach from the listener bus (suites share one session — a
    * leaked listener keeps collecting for the JVM's lifetime).
    */
  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  // reflective waitUntilEmpty(timeoutMillis) shim; None when the
  // runtime's bus lacks it (then drain() falls back to the poll)
  private val busWait: Option[(AnyRef, java.lang.reflect.Method)] =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      Some((bus, bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)))
    } catch { case _: Throwable => None }

  /** Flush the listener bus (exact `waitUntilEmpty`, ≤3 s; stability
    * poll fallback) and return + clear every stage completed since
    * the last drain.
    */
  def drain(): Seq[StageCollector.StageRow] = {
    val quiesced = busWait.exists { case (bus, m) =>
      try { m.invoke(bus, java.lang.Long.valueOf(3000L)); true }
      catch { case _: Throwable => false } // timeout: fall through
    }
    if (!quiesced) {
      val deadline = System.nanoTime() + 3_000_000_000L
      var prev = -1
      var stable = 0
      while (stable < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = q.size
        stable = if (now == prev) stable + 1 else 0
        prev = now
      }
    }
    val out = Vector.newBuilder[StageRow]
    var r = q.poll()
    while (r != null) { out += r; r = q.poll() }
    out.result()
  }
}
