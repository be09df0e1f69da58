package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** In-memory span recorder. Spans are opened around calls into one layer
  * of the program; a span's self time is its duration minus the part of
  * its interval that its child spans cover. Spans are written out once,
  * when the benchmark ends. A disabled trace still runs the wrapped code
  * but records nothing. */
final class Trace(val enabled: Boolean, runId: String) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.getOrElse(-1), System.nanoTime())
      spans += s
      open = s.id :: open
      try body
      finally { s.end = System.nanoTime(); open = open.tail }
    }

  /** Self seconds of every closed span with this name, summed. */
  def selfSeconds(name: String): Double =
    spans.filter(s => s.name == name && s.end > 0).map(self).sum / 1e9

  /** Wall seconds of every closed span with this name, summed. */
  def wallSeconds(name: String): Double =
    spans.filter(s => s.name == name && s.end > 0).map(s => s.end - s.start).sum / 1e9

  private def self(s: Span): Long = {
    // children are nested and sequential (one driver thread opens spans),
    // so their intervals do not overlap and can simply be summed
    val covered = spans.filter(c => c.parent == s.id && c.end > 0).map(c => c.end - c.start).sum
    (s.end - s.start) - covered
  }

  /** One JSON object per line: name, start, end, parent, run id. */
  def writeTo(path: Path): Unit = if (enabled) {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map { s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.start - t0},"end_ns":${s.end - t0},"self_ns":${self(s)}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  val off = new Trace(enabled = false, "")

  private final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    var end = 0L
  }
}

/** Counts the Spark work the program submits: jobs, stages, tasks, bytes
  * and task time. Registered only in traced runs. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val shuffleWriteBytes, spillBytes, inputBytes = new AtomicLong
  val taskRunNanos, taskOverheadNanos = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      val runNanos = m.executorRunTime * 1000000L
      taskRunNanos.addAndGet(runNanos)
      // everything between launch and finish that is not the task body:
      // scheduling, deserialization, result handling
      taskOverheadNanos.addAndGet(
        math.max(0L, e.taskInfo.duration * 1000000L - runNanos))
    }
  }

  def snapshot(): SparkWork = SparkWork(jobs.get, stages.get, tasks.get,
    shuffleWriteBytes.get, spillBytes.get, inputBytes.get,
    taskRunNanos.get, taskOverheadNanos.get)
}

/** Spark work counted between two snapshots. */
final case class SparkWork(jobs: Long, stages: Long, tasks: Long,
    shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
    taskRunNanos: Long, taskOverheadNanos: Long) {
  def -(o: SparkWork): SparkWork = SparkWork(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, inputBytes - o.inputBytes,
    taskRunNanos - o.taskRunNanos, taskOverheadNanos - o.taskOverheadNanos)
}
