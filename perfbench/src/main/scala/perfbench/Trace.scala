package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** In-memory span recorder: spans are kept until the run ends and then
  * written as JSON lines. Times are epoch milliseconds (Spark's own job
  * times use the same clock). */
final class Spans(val runId: String) {
  final case class Span(id: Long, name: String, start: Long, end: Long,
      parent: Long)
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()

  /** A fresh span id, for a span recorded once it has ended. */
  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, name: String, start: Long, end: Long,
      parent: Long): Unit = done.add(Span(id, name, start, end, parent))

  def add(name: String, start: Long, end: Long, parent: Long): Long = {
    val id = newId()
    record(id, name, start, end, parent)
    id
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    done.forEach { s =>
      sb ++= s"""{"run":"$runId","id":${s.id},"name":"${s.name}",""" +
        s""""start":${s.start},"end":${s.end},"parent":${s.parent}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.result())
  }
}

/** Bench-side Spark listener. Jobs carry the span id of the export that
  * submitted them in the [[Listener.SpanKey]] local property; only their
  * stages and tasks are totalled, and each becomes a child span. */
final class Listener(spans: Spans) extends SparkListener {
  import Listener.SpanKey
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobParent = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageParent = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** Completed job intervals: (export span, start, end) in epoch ms. */
  val jobs = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  final class Totals {
    var stages, tasks = 0L
    var runMs, cpuNs, gcMs, schedDelayMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
  }
  private val t = new Totals
  def totals: Totals = t

  private def parentOf(stage: Int): Long =
    Option(stageParent.get(stage)).map(_.longValue).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobStart.put(e.jobId, e.time)
    jobParent.put(e.jobId, p)
    e.stageIds.foreach(s => stageParent.put(s, p))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    val p = Option(jobParent.remove(e.jobId)).map(_.longValue).getOrElse(0L)
    if (p != 0L) {
      jobs.add((p, s, e.time))
      spans.add(s"spark.job.${e.jobId}", s, e.time, p)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (parentOf(e.stageInfo.stageId) != 0L) synchronized { t.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (parentOf(e.stageId) != 0L) synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        // the Spark UI's scheduler delay: task duration not spent running,
        // deserialising, serialising the result or fetching it
        t.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResult)
            i.finishTime - i.gettingResultTime else 0L))
      }
    }
}

object Listener {
  val SpanKey = "perfbench.span"
}
