package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Tracing for `--trace 1` runs: spans recorded by the harness around
  * its calls into the program, and a Spark listener that attributes jobs,
  * stages and task metrics to those spans through the `perfbench.tag`
  * local property (inherited by the threads a streaming query starts).
  * Untraced runs create none of this. */
final class Trace {
  case class Span(id: Int, trace: String, name: String,
      parent: Int, startMs: Double, endMs: Double)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def span(trace: String, name: String, parent: Int,
      startMs: Double, endMs: Double): Int = synchronized {
    nextId += 1
    spans += Span(nextId, trace, name, parent, startMs, endMs)
    nextId
  }

  /** Totals for one tag. Written only on the listener thread; read after
    * the listener bus has drained. */
  final class Totals {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var bytesRead, rowsRead, resultBytes = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
      "fetch_wait_ms" -> fetchWaitMs, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
      "bytes_read" -> bytesRead, "rows_read" -> rowsRead,
      "result_bytes" -> resultBytes)
  }

  private val totals = mutable.HashMap.empty[String, Totals]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val jobOpen = mutable.HashMap.empty[Int, (String, Long)]
  private val jobs = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]

  private def of(tag: String) = totals.getOrElseUpdate(tag, new Totals)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Trace.TagKey))).getOrElse("untagged")
      e.stageIds.foreach(stageTag(_) = tag)
      of(tag).jobs += 1
      jobOpen(e.jobId) = (tag, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobOpen.remove(e.jobId).foreach { case (tag, start) =>
        jobs += ((e.jobId, tag, start, e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      of(stageTag.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = of(stageTag.getOrElse(e.stageId, "untagged"))
      t.tasks += 1
      t.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.resultBytes += m.resultSize
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.bytesRead += m.inputMetrics.bytesRead
        t.rowsRead += m.inputMetrics.recordsRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  def totalsFor(tag: String): Totals = totals.getOrElse(tag, new Totals)

  /** Milliseconds of [start, end] during which no task tagged `tag` ran. */
  def idleMs(tag: String, startMs: Double, endMs: Double): Double = {
    val iv = totalsFor(tag).taskIntervals
      .map { case (a, b) => (math.max(a.toDouble, startMs), math.min(b.toDouble, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (endMs - startMs) - covered)
  }

  /** Job spans become children of the harness span whose tag ran them. */
  def spansOut(spanOfTag: String => Option[(String, Int)]): Seq[Map[String, Any]] = {
    val jobSpans = jobs.sortBy(_._1).flatMap { case (id, tag, s, e) =>
      spanOfTag(tag).map { case (trace, parent) =>
        Span(-(id + 1), trace, "scheduler.job", parent, s.toDouble, e.toDouble)
      }
    }
    (spans.toSeq ++ jobSpans).map(s => Map(
      "id" -> s.id, "trace" -> s.trace, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
  }
}

object Trace {
  val TagKey = "perfbench.tag"
}
