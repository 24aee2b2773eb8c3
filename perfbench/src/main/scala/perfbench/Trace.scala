package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Opens spans around calls into a layer. Untraced ops use [[NoSpans]],
  * so the same workload code runs in both modes.
  */
trait Spans {
  def enabled: Boolean
  def apply[T](name: String)(body: => T): T
}

object NoSpans extends Spans {
  def enabled = false
  def apply[T](name: String)(body: => T): T = body
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. The innermost open span's id rides the
  * driver thread's Spark local property, so every job the call starts
  * carries it to the listener.
  */
final class Tracer(sc: SparkContext) extends Spans {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var currentOp = -1

  def enabled = true

  def beginOp(op: Int): Unit = currentOp = op

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id),
      currentOp, System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProp,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  def opSpans(op: Int): Seq[Span] = spans.filter(_.op == op).toSeq

  /** The innermost span of `op` open at wall-clock `ms`. */
  def spanAt(op: Int)(ms: Long): Option[Int] =
    opSpans(op).filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(-_.startNs).headOption.map(_.id)

  /** Duration minus the part covered by direct children. */
  def selfNs(s: Span): Long =
    s.durNs - spans.iterator.filter(_.parent == s.id).map(_.durNs).sum

  /** The span and all its descendants. */
  def subtree(root: Span): Seq[Span] = {
    val out = ArrayBuffer(root)
    var i = 0
    while (i < out.size) {
      val id = out(i).id
      out ++= spans.iterator.filter(_.parent == id)
      i += 1
    }
    out.toSeq
  }

  def writeJsonl(path: Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""op": ${s.op}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""self_ns": ${selfNs(s)}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark-side work attributed to one span. */
final class SpanWork {
  var jobs = 0
  var tasks = 0
  var shuffleBytes = 0L
  var gcMs = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  /** Job intervals (submission, completion), epoch ms. */
  val jobIntervals = ArrayBuffer[(Long, Long)]()

  def add(o: SpanWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; shuffleBytes += o.shuffleBytes
    gcMs += o.gcMs; recordsRead += o.recordsRead; bytesRead += o.bytesRead
    bytesWritten += o.bytesWritten; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    jobIntervals ++= o.jobIntervals
  }
}

object SpanWork {
  /** Length of the union of intervals: time with at least one job running. */
  def coveredMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Attributes Spark jobs, tasks, bytes, GC and Catalyst phase times to
  * the span that was innermost when the work started. Registered only
  * for traced ops; call [[attach]] / [[detach]] around them.
  */
final class LayerListener(sc: SparkContext, spark: org.apache.spark.sql.SparkSession)
  extends SparkListener with QueryExecutionListener {

  private val work = mutable.HashMap[Int, SpanWork]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val jobSpan = mutable.HashMap[Int, (Int, Long)]()
  // Catalyst phase times (query start ms, analysis, optimization,
  // planning), resolved to spans by time once the bus has drained
  private val queries = ArrayBuffer[(Long, Long, Long, Long)]()

  private def acc(span: Int): SpanWork = work.getOrElseUpdate(span, new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(ps =>
      Option(ps.getProperty(Tracer.SpanProp)))
    p.foreach { s =>
      val id = s.toInt
      acc(id).jobs += 1
      jobSpan(e.jobId) = (id, e.time)
      e.stageIds.foreach(st => stageSpan(st) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, start) =>
      acc(id).jobIntervals += (start -> e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(id)
      a.tasks += 1
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      a.gcMs += m.jvmGCTime
      a.recordsRead += m.inputMetrics.recordsRead
      a.bytesRead += m.inputMetrics.bytesRead
      a.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def d(n: String): Long = ph.get(n).map(_.durationMs).getOrElse(0L)
    val start =
      if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.startTimeMs).min
    queries += ((start, d("analysis"), d("optimization"), d("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = phases(qe)

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Drain the bus so no event of the op is lost, then stop listening. */
  def detach(): Unit = {
    org.apache.spark.perfbench.BusShim.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Work per span; Catalyst phases go to `spanAtMs(query start)`. */
  def collect(spanAtMs: Long => Option[Int]): Map[Int, SpanWork] = synchronized {
    queries.foreach { case (start, an, op, pl) =>
      spanAtMs(start).foreach { id =>
        val a = acc(id)
        a.analysisMs += an; a.optimizationMs += op; a.planningMs += pl
      }
    }
    queries.clear()
    val out = work.toMap
    work.clear()
    stageSpan.clear()
    out
  }
}
