package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed region of a run. Times are epoch microseconds, on the same
  * clock as Spark's listener event times (epoch milliseconds).
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      start: Long, var end: Long = -1L,
                      counts: mutable.LinkedHashMap[String, Double] =
                        mutable.LinkedHashMap.empty)

/** Records spans around the benchmark's calls into the program's layers.
  *
  * Spans nest on one client thread. The innermost open span's id rides
  * the thread's Spark local properties, so every job the client submits
  * carries it and [[Recorder]] can attribute the job's tasks to it.
  * Spans stay in memory until the run writes them out.
  */
final class Tracer(sc: SparkContext, run: String, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, open.headOption.fold(0)(_.id), run, nowUs)
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowUs
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) open.headOption.foreach { s =>
      s.counts(key) = s.counts.getOrElse(key, 0.0) + v
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spark listener that attributes jobs and task metrics to the span that
  * was innermost when the job was submitted. With one client submitting
  * one operation at a time, that attribution is unambiguous.
  *
  * Rows read by scan nodes come from the SQL plan's "number of output
  * rows" accumulators: file scans and scans of cached or checkpointed
  * frames are counted apart.
  */
final class Recorder extends SparkListener {
  import Recorder._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  // accumulator id -> true for a file scan, false for a cache scan
  private val scanRowAcc = mutable.HashMap.empty[Long, Boolean]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .fold(0)(_.toInt)
    val j = Job(e.jobId, span, e.time)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      var fileRows, cacheRows = 0L
      e.taskInfo.accumulables.foreach { a =>
        scanRowAcc.get(a.id).foreach { isFile =>
          val n = a.update.collect { case v: Long => v }.getOrElse(0L)
          if (isFile) fileRows += n else cacheRows += n
        }
      }
      tasks += Task(stageSpan.getOrElse(e.stageId, 0), e.stageId, e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten,
        fileRows, cacheRows)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(register(s.sparkPlanInfo))
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized(register(u.sparkPlanInfo))
    case _ => ()
  }

  private def register(p: SparkPlanInfo): Unit = {
    val cached = p.nodeName == "InMemoryTableScan" || p.nodeName.contains("ExistingRDD")
    if (cached || p.nodeName.startsWith("Scan"))
      p.metrics.find(_.name == "number of output rows")
        .foreach(m => scanRowAcc(m.accumulatorId) = !cached)
    p.children.foreach(register)
  }
}

object Recorder {
  final case class Job(id: Int, span: Int, start: Long, var end: Long = -1L)
  final case class Task(span: Int, stage: Int, durMs: Long,
                        shuffleWriteBytes: Long, spillBytes: Long,
                        recordsWritten: Long, bytesWritten: Long,
                        fileScanRows: Long, cacheScanRows: Long)
}
