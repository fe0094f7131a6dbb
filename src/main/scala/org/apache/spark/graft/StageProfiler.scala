package org.apache.spark.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Job count and per-stage profile of everything a `SparkContext` runs
  * while attached: the engine's one `SparkListener`.
  *
  * Listener events are delivered asynchronously, so an action can return
  * before its last stage-completed event reaches this listener. Every read
  * (and [[reset]]) therefore first waits for the listener bus to drain:
  * once an action has returned, its jobs and stages are all counted, with
  * no sleep and no undercount under load. Reads must come from a driver
  * thread, never from inside another listener.
  *
  * Lives under `org.apache.spark` because `SparkContext.listenerBus` is
  * `private[spark]`, as [[ShuffleRetirement]] does for the cleaner.
  */
final class StageProfiler private (sc: SparkContext) extends SparkListener {
  import StageProfiler.Stage

  private var jobsStarted = 0
  private val completed = ArrayBuffer.empty[Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobsStarted += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val wall = (for { s <- i.submissionTime; c <- i.completionTime } yield c - s).getOrElse(-1L)
    completed += Stage(i.stageId, i.name.takeWhile(_ != '\n').take(60), wall, i.numTasks,
      m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  private def drained[A](read: => A): A = {
    sc.listenerBus.waitUntilEmpty()
    synchronized(read)
  }

  /** Jobs started since attach or the last [[reset]]. */
  def jobs: Int = drained(jobsStarted)

  /** Stages completed since attach or the last [[reset]], in completion order. */
  def stages: Seq[Stage] = drained(completed.toList)

  /** Forget every job and stage seen so far, including those still queued. */
  def reset(): Unit = drained { jobsStarted = 0; completed.clear() }
}

object StageProfiler {

  /** One completed stage attempt. Times are milliseconds: `wallMs` from
    * submission to completion (-1 if unknown), `runMs` and `gcMs` summed
    * over its tasks. */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int, runMs: Long,
                         gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** A profiler registered on `sc`'s listener bus. */
  def attach(sc: SparkContext): StageProfiler = {
    val p = new StageProfiler(sc)
    sc.addSparkListener(p)
    p
  }
}
