package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spark work done during one traced call. `jobBusyS` is the wall time
  * during which at least one job was running; the rest of the call is
  * driver time between jobs (planning, collects, file commits). */
final case class Work(jobs: Long, stages: Long, tasks: Long,
    shuffleWriteBytes: Long, spillBytes: Long, executorRunS: Double,
    jobBusyS: Double)

/** Listener that accumulates the work of the jobs it sees. */
final class Meter extends SparkListener {
  private var jobs, stages, tasks, shuffleWrite, spill, runMs = 0L
  private var active = 0
  private var busyFrom, busyMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (active == 0) busyFrom = e.time
    active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) busyMs += e.time - busyFrom
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      runMs += m.executorRunTime
    }
  }

  def work: Work = synchronized {
    Work(jobs, stages, tasks, shuffleWrite, spill, runMs / 1e3, busyMs / 1e3)
  }
}

object Meter {

  /** Wall seconds of `body`. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` with a fresh listener attached. The bus is drained
    * before attaching (so earlier calls' events are not counted) and
    * after the call (so all of this call's events are). Only the call
    * itself is inside the returned wall time. */
  def traced[A](sc: SparkContext)(body: => A): (A, Double, Work) = {
    PerfbenchBus.drain(sc)
    val m = new Meter
    sc.addSparkListener(m)
    try {
      val (a, wall) = timed(body)
      PerfbenchBus.drain(sc)
      (a, wall, m.work)
    } finally sc.removeSparkListener(m)
  }

  /** [[timed]], or [[traced]] when `trace`; the work is there only then. */
  def measure[A](sc: SparkContext, trace: Boolean)(
      body: => A): (A, Double, Option[Work]) =
    if (trace) {
      val (a, secs, w) = traced(sc)(body)
      (a, secs, Some(w))
    } else {
      val (a, secs) = timed(body)
      (a, secs, None)
    }
}
