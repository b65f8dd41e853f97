package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** One timed call: `op` is the timed op it ran in (-1 = set-up). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, durNs: Long)

/** Spark counters of the jobs one span submitted (its own jobs only, not
  * its children's: the job group names the innermost open span).
  */
final class Counters {
  var jobs, tasks, busyMs, waitMs, shuffleBytes, spillBytes, inputRows,
    outputBytes = 0L
  var firstJobMs = -1L

  def toMap: Map[String, Long] = Map("jobs" -> jobs, "tasks" -> tasks,
    "first_job_ms" -> firstJobMs, "busy_ms" -> busyMs, "wait_ms" -> waitMs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "input_rows" -> inputRows, "output_bytes" -> outputBytes)
}

/** Attributes every job and task to the span whose job group
  * (`span-<id>`) was set when the job was submitted.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val counters = new ConcurrentHashMap[Int, Counters]()

  private def of(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-"))
      .foreach { g =>
        val id = g.stripPrefix("span-").toInt
        val c = of(id)
        c.synchronized {
          c.jobs += 1
          if (c.firstJobMs < 0 || e.time < c.firstJobMs) c.firstJobMs = e.time
        }
        e.stageIds.foreach(st => stageSpan.put(st, id))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (!stageSpan.containsKey(e.stageId) || m == null) return
    val info = e.taskInfo
    val c = of(span)
    c.synchronized {
      c.tasks += 1
      c.busyMs += m.executorRunTime
      // the Spark UI's scheduler delay: task duration not spent
      // deserializing, running, serializing or fetching the result
      c.waitMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Span recorder. Spans always record their wall time; with `traced`
  * each span also sets a job group so [[SpanListener]] can attribute
  * Spark's own counters to it.
  */
final class Tracer(val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new SpanListener
  var op = -1
  private var sc: SparkContext = _
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def attach(context: SparkContext): Unit = {
    sc = context
    if (traced) sc.addSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    if (traced) sc.setJobGroup(s"span-$id", name)
    stack = (id, name) :: stack
    val w0 = System.currentTimeMillis
    val t0 = System.nanoTime
    try body
    finally {
      val dur = System.nanoTime - t0
      stack = stack.tail
      if (traced) stack.headOption match {
        case Some((p, pname)) => sc.setJobGroup(s"span-$p", pname)
        case None             => sc.clearJobGroup()
      }
      spans += Span(id, name, parent, op, w0, dur)
    }
  }
}
