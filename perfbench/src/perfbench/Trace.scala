package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Scheduler events seen by a listener, attributed afterwards to the
  * wall-clock window of each op.
  */
final class SparkEvents extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Long]
  /** (launch ms, finish ms, executor CPU ns) */
  private val tasks = new ConcurrentLinkedQueue[(Long, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val cpu = Option(e.taskMetrics).map(_.executorCpuTime).getOrElse(0L)
    tasks.add((e.taskInfo.launchTime, e.taskInfo.finishTime, cpu))
  }

  /** Jobs, tasks, task CPU seconds and the seconds of the window in
    * which no task ran.
    */
  def in(start: Long, end: Long): (Int, Int, Double, Double) = {
    val ts = tasks.asScala.filter { case (l, _, _) => l >= start && l <= end }.toSeq
    val covered = ts.map { case (l, f, _) => (l, math.min(f, end)) }.sortBy(_._1)
      .foldLeft((0L, start)) { case ((acc, reach), (l, f)) =>
        val from = math.max(l, reach)
        if (f > from) (acc + f - from, f) else (acc, reach)
      }._1
    (jobs.asScala.count(t => t >= start && t <= end), ts.size,
      ts.map(_._3).sum / 1e9, math.max(0L, end - start - covered) / 1e3)
  }
}

object SparkEvents {
  /** Blocks until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
