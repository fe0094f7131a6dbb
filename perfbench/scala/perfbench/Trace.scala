package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._

/** One JSON object per line. */
final class JsonLines(file: File) {
  private val out = new PrintWriter(file, "UTF-8")
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(kind: String, fields: (String, Any)*): Unit = {
    out.println(mapper.writeValueAsString(ListMap(("kind" -> kind) +: fields: _*)))
    out.flush()
  }

  def close(): Unit = out.close()
}

/** Benchmark-owned listener: per job its window, per stage its submission
  * time and task-metric totals. Attribution to spans is done afterwards, by
  * time window (perfbench/spans.py). Read it only after
  * [[org.apache.spark.perfbench.BusDrain.drain]]. */
final class JobLedger extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long)
  final class Stage(val id: Int, val submit: Long) {
    var runMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  private def stage(id: Int, attempt: Int, submit: Long): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, submit))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId, e.taskInfo.launchTime)
      s.runMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  def dump(out: JsonLines): Unit = synchronized {
    jobs.values.foreach(j =>
      out.write("job", "id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end))
    stages.values.foreach(s =>
      out.write("stage", "id" -> s.id, "submit_ms" -> s.submit, "run_ms" -> s.runMs, "shuffle_write_bytes" -> s.shuffleWrite,
        "spill_bytes" -> s.spill, "peak_exec_mem_bytes" -> s.peakMem))
  }
}

/** Spans recorded around calls into the engine's modules. A span opened
  * inside another names it as its parent. */
final class Spans(out: JsonLines) {
  private val open = mutable.Stack.empty[String]

  def apply[A](name: String)(f: => A): A = {
    val parent = open.headOption.orNull
    open.push(name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f finally {
      open.pop()
      out.write("span", "name" -> name, "parent" -> parent, "start_ms" -> startMs,
        "end_ms" -> System.currentTimeMillis(), "seconds" -> (System.nanoTime() - t0) / 1e9)
    }
  }
}

/** Bytes under a directory tree; files that vanish mid-walk count as 0. */
object DirSize {
  def of(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.map { p =>
        try if (Files.isRegularFile(p)) Files.size(p) else 0L
        catch { case _: java.io.IOException => 0L }
      }.sum
      catch { case _: java.io.UncheckedIOException => 0L }
      finally s.close()
    }
}

/** Samples the size of a directory tree every `periodMs` and keeps the
  * crest: the scratch-disk envelope of whatever runs meanwhile. */
final class CrestSampler(root: Path, periodMs: Long = 100L) {
  @volatile private var running = true
  @volatile private var crest = 0L
  private val thread = new Thread(() => {
    while (running) {
      crest = math.max(crest, DirSize.of(root))
      Thread.sleep(periodMs)
    }
  }, "scratch-crest-sampler")
  thread.setDaemon(true)
  thread.start()

  /** Stops sampling and returns the crest, including one final sample. */
  def stop(): Long = {
    running = false
    thread.join()
    math.max(crest, DirSize.of(root))
  }
}
